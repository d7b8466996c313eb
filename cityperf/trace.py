"""Spans around calls into the package, and per-layer figures derived from
Spark's own status stores.

A span covers one call into a layer (plus the action that materializes its
result). In a traced pass every span also sets a Spark job group, so each job
is attributed to the span that launched it; streaming jobs carry their query's
run id as job group instead, and the span that started the query claims it.
Nothing here runs inside an untraced pass: ``Tracer(enabled=False).span`` is a
no-op. Status-store reads happen after the pass, outside its timed region.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    label: str
    group: str
    t0: float  # epoch seconds
    t1: float = 0.0
    jobs: list = field(default_factory=list)


class Tracer:
    """Records flat, sequential spans for one pass (the benchmark is a closed
    loop, so spans never overlap)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_ids: dict[str, str] = {}  # streaming run id -> span group
        self.storage_mb_peak = 0.0
        self.own_s = 0.0  # time the pass spent in tracing work
        self._seq = 0

    @contextmanager
    def span(self, layer: str, label: str = ""):
        if not self.enabled:
            yield None
            return
        with self.own():
            self._seq += 1
            sc = self.spark.sparkContext
            sc.setJobGroup(f"cityperf-span-{self._seq}", f"{layer} {label}".strip())
            sp = Span(layer, label, f"cityperf-span-{self._seq}", time.time())
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            with self.own():
                sc.setJobGroup("cityperf-glue", "benchmark glue")
                self.spans.append(sp)
                self.storage_mb_peak = max(self.storage_mb_peak, persisted_mb(self.spark))

    @contextmanager
    def own(self):
        """Count the enclosed tracing work as tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t

    def bind_stream(self, query, sp: Span | None) -> None:
        """Attribute a streaming query's jobs to the span that started it."""
        if sp is not None:
            self.run_ids[str(query.runId)] = sp.group


def persisted_mb(spark) -> float:
    """Storage memory plus disk held by persisted RDDs, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class StatusReader:
    """Reads jobs, stages and SQL executions recorded since the last call,
    as JSON through Spark's own Jackson mapper (one py4j call per list)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        jvm = spark._jvm
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_mod.__getattr__("MODULE$")
        )
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = -1
        self.last_execution = -1

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every listener has seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        self.drain()
        jobs = [j for j in self._json(self._jsc.statusStore().jobsList(None))
                if j["jobId"] > self.last_job]
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        return sorted(jobs, key=lambda j: j["jobId"])

    def stages(self, stage_ids: set[int]) -> list[dict]:
        """Completed attempts of the given stages (skipped ones have none)."""
        store = self._jsc.statusStore()
        out = []
        for sid in sorted(stage_ids):
            attempts = self._json(
                store.stageData(sid, False, None, False, self._no_quantiles))
            out += [s for s in attempts if s["status"] == "COMPLETE"]
        return out

    def new_executions(self) -> list[dict]:
        """SQL executions since the last call, each with its plan nodes and
        their metric values (as Spark formats them)."""
        out = []
        execs = self._json(self._sql.executionsList())
        for e in execs:
            eid = e["executionId"]
            if eid <= self.last_execution:
                continue
            values = self._json(self._sql.executionMetrics(eid))
            nodes = self._json(self._sql.planGraph(eid).allNodes())
            out.append({"id": eid, "jobs": [int(j) for j in e.get("jobs", {})],
                        "nodes": nodes, "values": values})
        if execs:
            self.last_execution = max(self.last_execution,
                                      max(e["executionId"] for e in execs))
        return out


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1000, "min": 60_000, "h": 3_600_000}


def metric_value(text: str) -> float:
    """Spark's formatted SQL metric -> number (bytes, ms or a count). The
    total is the first figure of a '(min, med, max)' summary."""
    lines = text.strip().split("\n")
    first = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", first)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1)


def node_metrics(executions: list[dict], node_pred, metric: str) -> float:
    """Sum `metric` over the plan nodes for which node_pred(name) holds."""
    total = 0.0
    for e in executions:
        seen = set()
        stack = list(e["nodes"])
        while stack:
            n = stack.pop()
            stack.extend(n.get("nodes", []))
            if not node_pred(n["name"]):
                continue
            for m in n.get("metrics", []):
                acc = m["accumulatorId"]
                if m["name"] == metric and acc not in seen:
                    seen.add(acc)
                    total += metric_value(e["values"].get(str(acc), "0"))
    return total


def attribute(tracer: Tracer, jobs: list[dict]) -> None:
    """Hang each job on the span that launched it."""
    by_group = {sp.group: sp for sp in tracer.spans}
    for j in jobs:
        g = j.get("jobGroup")
        g = tracer.run_ids.get(g, g)
        if g in by_group:
            by_group[g].jobs.append(j)


def timeline(sp: Span) -> tuple[float, float]:
    """(plan_ms, driver_gap_ms) of one span: the time before its first job
    starts, and the rest of its wall time not covered by any job."""
    wall = (sp.t1 - sp.t0) * 1000
    iv = sorted((j["submissionTime"], j.get("completionTime") or j["submissionTime"])
                for j in sp.jobs if j.get("submissionTime"))
    if not iv:
        return 0.0, wall
    t0 = sp.t0 * 1000
    plan = max(0.0, iv[0][0] - t0)
    busy, cur_s, cur_e = 0.0, iv[0][0], iv[0][1]
    for s, e in iv[1:]:
        if s > cur_e:
            busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    busy += cur_e - cur_s
    return plan, max(0.0, wall - plan - busy)


def slope(ys: list[float]) -> float:
    """Least-squares slope of ys over their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den


def beyond(n: int, q: float) -> int:
    """How many of n samples lie above the q-th percentile's rank."""
    return n - math.ceil(q * n / 100)


def layer_ms(spans: list[Span], layer_spans: dict[str, list[str]]) -> dict[str, float]:
    """Each per-layer time metric: the summed wall time, in ms, of the spans
    whose layer it covers."""
    return {metric: sum((sp.t1 - sp.t0) * 1000 for sp in spans if sp.layer in layers)
            for metric, layers in layer_spans.items()}


def coverage(layer_times_ms: dict[str, float], wall_s: float) -> float:
    """Share of a pass's wall time that the reported layer times account
    for. Time outside every span, and spans of a layer no metric covers,
    lower it."""
    return sum(layer_times_ms.values()) / (wall_s * 1000) if wall_s > 0 else 0.0


# ------------------------------------------------------------ host figures
def process_tree(root: int) -> list[int]:
    """root and every descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus its Python workers."""
    total = 0
    for pid in process_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def host_stamp(spark, slots: int) -> dict:
    return {
        "requested_task_slots": slots,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "os_cpu_count": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
    }
