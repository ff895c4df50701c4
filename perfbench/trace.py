"""Tracing for the benchmark: in-memory spans recorded around calls into
eel_spark, plus readers for Spark's own status stores (jobs, stages, SQL
operator metrics, block storage) through public py4j entry points.

Spans carry wall-clock epoch seconds so that Spark's job and stage
timestamps (epoch milliseconds) nest under the spans the benchmark
records itself. Nothing here is active in an untraced run except the
cheap ``Tracer`` no-op.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

LAYERS = ("run", "setup", "pass", "unit", "build", "action", "job", "stage", "check")


class Tracer:
    """Span recorder; spans stay in memory until the run writes them."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append({"id": len(self.spans), "parent": parent,
                           "layer": layer, "name": name,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, layer: str, name: str, parent: int | None, **attrs):
        """Time the body; yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(layer, name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def self_times(self, root: int) -> dict[str, float]:
        """Seconds per layer under ``root`` (inclusive) not covered by the
        span's own children: duration minus the union of the child
        intervals clipped to the span."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        stack = [self.spans[root]]
        while stack:
            s = stack.pop()
            children = kids.get(s["id"], [])
            stack.extend(children)
            out[s["layer"]] += max(0.0, s["end"] - s["start"]) - _covered(
                s["start"], s["end"], [(c["start"], c["end"]) for c in children]
            )
        return out


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(lo, a), min(hi, b)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# -- Spark status stores --------------------------------------------------

_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_TIME_UNIT_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNIT_B = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
                "TiB": 1024 ** 4}


def parse_metric(text: str) -> float:
    """Total of one SQL metric as rendered by Spark, in seconds, bytes or
    plain count: the last line holds ``<total> (<min>, <med>, <max> ...)``
    or just ``<total>``."""
    line = text.strip().splitlines()[-1] if text.strip() else ""
    m = _NUM.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _TIME_UNIT_S.get(unit, _SIZE_UNIT_B.get(unit, 1))


# SQL operator metrics summed by node type: (key, node-name test, metric)
_SQLOPS = (
    ("scan_s", lambda n: n.startswith("Scan"), "scan time"),
    ("agg_s", lambda n: "Aggregate" in n, "time in aggregation build"),
    ("sort_s", lambda n: n == "Sort", "sort time"),
    ("join_build_s", lambda n: n.startswith("BroadcastExchange"), "time to build"),
    ("join_build_s", lambda n: "HashJoin" in n, "time to build hash map"),
    ("python_rows", lambda n: "Python" in n or "Pandas" in n or "Arrow" in n,
     "number of output rows"),
    ("output_rows", lambda n: True, "number of output rows"),
)


class StatusReader:
    """Reads the driver's AppStatusStore and SQLAppStatusStore as JSON
    (one py4j call per list, serialized by Spark's own Jackson)."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark.sparkContext._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        st = self._store
        return self._json(st.stageList(
            None, False, False,
            getattr(st, "stageList$default$4")(),
            getattr(st, "stageList$default$5")(),
        ))

    def sql_operator_totals(self, job_ids: set[int]) -> dict[str, float]:
        """Sum the SQL operator metrics of every execution whose jobs are
        among ``job_ids``."""
        out = {key: 0.0 for key, _, _ in _SQLOPS}
        for ex in self._json(self._sql.executionsList()):
            if not {int(j) for j in (ex.get("jobs") or {})} & job_ids:
                continue
            eid = ex["executionId"]
            values = self._json(self._sql.executionMetrics(eid))
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                name = node.get("name", "")
                for m in node.get("metrics", []):
                    raw = values.get(str(m["accumulatorId"]))
                    if raw is None:
                        continue
                    for key, test, metric in _SQLOPS:
                        if m["name"] == metric and test(name):
                            out[key] += parse_metric(raw)
        return out

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB cached in memory and on disk)."""
        sc = self.spark.sparkContext._jsc.sc()
        infos = sc.getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20
        return len(infos), mb

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM (VmHWM)."""
        with open(f"/proc/{self._jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def exec_totals(jobs: list[dict], stages: list[dict], wall_s: float,
                cores: int) -> dict[str, float]:
    """exec.* for one set of jobs: seconds in which at least one of them
    ran, counts, executor times and bytes of the stages they ran, and
    core utilisation over ``wall_s``."""
    ids = {s for j in jobs for s in j["stageIds"]}
    ran = [s for s in stages if s["stageId"] in ids and s["status"] == "COMPLETE"]
    mb = 2 ** 20
    run_s = sum(s["executorRunTime"] for s in ran) / 1e3
    durations = [(s["completionTime"] - s["submissionTime"]) / 1e3
                 for s in ran if s.get("completionTime") and s.get("submissionTime")]
    spans = [(j["submissionTime"] / 1e3, j["completionTime"] / 1e3) for j in jobs
             if j.get("submissionTime") and j.get("completionTime")]
    return {
        "exec.s": _covered(min((a for a, _ in spans), default=0.0),
                           max((b for _, b in spans), default=0.0), spans),
        "exec.jobs": len(jobs),
        "exec.stages": len(ran),
        "exec.stages_skipped": sum(j["numSkippedStages"] for j in jobs),
        "exec.tasks": sum(s["numCompleteTasks"] for s in ran),
        "exec.short_stage_frac": (sum(d < 0.1 for d in durations) / len(durations)
                                  if durations else 0.0),
        "exec.run_s": run_s,
        "exec.cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "exec.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "exec.core_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.input_mb": sum(s["inputBytes"] for s in ran) / mb,
        "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / mb,
        "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / mb,
        "exec.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                             for s in ran) / mb,
        "sources.output_mb": sum(s["outputBytes"] for s in ran) / mb,
    }


def add_job_spans(tracer: Tracer, parent: int | None, jobs: list[dict],
                  stages: list[dict]) -> None:
    """Nest Spark jobs and their completed stages under ``parent``."""
    by_id = {}
    for s in stages:
        if s["status"] == "COMPLETE" and s.get("submissionTime"):
            by_id[s["stageId"]] = s
    for j in jobs:
        if not j.get("submissionTime") or not j.get("completionTime"):
            continue
        jid = tracer.add("job", f"job {j['jobId']}", j["submissionTime"] / 1e3,
                         j["completionTime"] / 1e3, parent)
        for sid in j["stageIds"]:
            s = by_id.pop(sid, None)
            if s is not None and s.get("completionTime"):
                tracer.add("stage", f"stage {sid}", s["submissionTime"] / 1e3,
                           s["completionTime"] / 1e3, jid,
                           tasks=s["numCompleteTasks"])


def phases_s(jqe) -> dict[str, float]:
    """Catalyst phase seconds from a JVM QueryExecution's tracker."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    phases = jqe.tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        name, ps = kv._1(), kv._2()
        if name in out:
            out[name] = (ps.endTimeMs() - ps.startTimeMs()) / 1e3
    return out
