"""Spark's own account of a pass, read from outside the program.

After each action the benchmark reads the Spark UI's REST API: the jobs of
the pass' job group, their stages, and the SQL executions those jobs ran.
The OCR stage is the one that ran the ``MapInArrow`` node, found through
the node's SQL metrics, never by a stage id.
"""

from __future__ import annotations

import json
import re
import urllib.request

# SQL metric names of Spark's Python UDF nodes (MapInArrow, ArrowEvalPython).
# Per task, Spark adds (BasePythonRunner.handleTimingData) run = worker
# finish - JVM reader start, and init = UDF loaded - worker main() entry.
# A reused worker enters main() as soon as its previous task ends and then
# blocks reading the next task's header (pyspark daemon.py/worker.py), so
# init also counts the time the worker sat idle in the pool; it can exceed
# run and is not a sub-interval of it.
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PYTHON_NODES = ("MapInArrow", "ArrowEvalPython")

_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(value: str) -> float:
    """A SQL metric as the UI prints it → number (bytes or seconds).
    Aggregated metrics print 'total (min, med, max ...)\\n<total> (...)'."""
    text = value.split("\n")[-1].strip()
    num, _, rest = text.partition(" ")
    unit = rest.split(" ")[0] if rest else ""
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


def _broadcast_input_bytes(execution: dict) -> float:
    """Bytes of the rows each BroadcastExchange of ``execution`` collected.

    The exchange's own "data size" is the memory of the hashed relation it
    builds, which a hash relation reserves in whole pages (64 MiB on both
    workloads, whatever the rows). The rows' own size is read instead from the
    nearest node below the exchange that reports one: a shuffle Exchange's
    "data size" or a scan's "size of files read"."""
    nodes = {n["nodeId"]: n for n in execution["nodes"]}
    child = {}
    for edge in execution.get("edges", []):  # data flows fromId -> toId
        child.setdefault(edge["toId"], edge["fromId"])
    total = 0.0
    for node_id, node in nodes.items():
        if node["nodeName"] != "BroadcastExchange":
            continue
        cur = child.get(node_id)
        while cur is not None:
            metrics = {m["name"]: m["value"] for m in nodes[cur]["metrics"]}
            size = metrics.get("data size", metrics.get("size of files read"))
            if size is not None:
                total += parse_metric(size)
                break
            cur = child.get(cur)
    return total


def _stage_of(value: str) -> int | None:
    m = _STAGE_RE.search(value)
    return int(m.group(1)) if m else None


class SparkStatus:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0  # the SQL endpoint pages its executions

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def pass_metrics(self, group: str) -> dict:
        """Spark-side metrics of every job in job group ``group``."""
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("/stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_write_bytes": float(
                sum(s["shuffleWriteBytes"] for s in stages)
            ),
        }
        page = self._get(
            f"/sql?details=true&planDescription=false"
            f"&offset={self._sql_seen}&length=100000"
        )
        self._sql_seen += len(page)
        execs = [
            e for e in page
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
        ]
        py_nodes = [
            (n["nodeName"], {m["name"]: m["value"] for m in n["metrics"]})
            for e in execs for n in e["nodes"]
            if n["nodeName"] in PYTHON_NODES
        ]
        out["spark.broadcast_bytes"] = sum(
            _broadcast_input_bytes(e) for e in execs
        )
        for key, name in (("arrow.python_run_s", PY_RUN),
                          ("arrow.python_init_s", PY_INIT),
                          ("arrow.bytes_to_python", PY_SENT),
                          ("arrow.bytes_from_python", PY_RETURNED)):
            out[key] = sum(parse_metric(m[name]) for _, m in py_nodes
                           if name in m)
        ocr_stages = {
            _stage_of(m.get(PY_RUN, "")) for name, m in py_nodes
            if name == "MapInArrow"
        } - {None}
        ocr = [s for s in stages if s["stageId"] in ocr_stages]
        if ocr:
            out["spark.ocr_stage.run_s"] = sum(
                s["executorRunTime"] for s in ocr) / 1e3
            out["spark.ocr_stage.cpu_s"] = sum(
                s["executorCpuTime"] for s in ocr) / 1e9
            out["spark.ocr_stage.task_max_over_median"] = max(
                self._task_skew(s) for s in ocr
            )
        return out

    def _task_skew(self, stage: dict) -> float:
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] else float(q[1])
