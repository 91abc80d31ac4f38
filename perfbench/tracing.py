"""Spans and Spark-metric harvest, taken from outside the library.

A ``Tracer`` is handed to every step.  With tracing off its ``span`` only
yields.  With tracing on each span is recorded in memory (name, start, end,
parent, run id) and, for the phases of a step, tags the Spark jobs it
submits with a job group of its own.  ``harvest`` then reads, per group:

* stage metrics from Spark's status store (``statusStore().stageData``),
  for the stages of the group's jobs (``getJobIdsForGroup``);
* the Python-worker metrics of the group's SQL executions from the SQL
  status store's plan graph ("time to run Python workers", "data sent to /
  returned from Python workers").

Stage ``inputBytes`` is not used: raster tiles are read by pyarrow inside
the Python workers, so it reads 0 on the manifest path.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# The first total in a formatted SQL metric: "1.2 s", "35 ms", "4.0 MiB",
# or the "total (min, med, max ...)\n1.2 s (...)" form.
_TOTAL = re.compile(r"(?:^|\n)\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    match = _TOTAL.search(text)
    if match is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(match.group(1).replace(",", "")) * _UNIT[match.group(2)]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        """Time a block.  ``group=True`` marks a leaf phase: its Spark jobs
        get a job group named after the span path, for ``harvest``."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        path = name if parent is None else f"{self.spans[parent]['path']}/{name}"
        rec = {"id": len(self.spans), "name": name, "path": path, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext
        if group:
            rec["group"] = f"{self.run_id}:{path}"
            sc.setJobGroup(rec["group"], path)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def groups_under(self, span_path: str) -> list[str]:
        prefix = span_path + "/"
        return list(dict.fromkeys(
            s["group"] for s in self.spans
            if "group" in s and (s["path"] + "/").startswith(prefix)))

    def phases(self, span_path: str) -> list[str]:
        """Names of the grouped child spans of the spans at one path."""
        prefix = span_path + "/"
        return list(dict.fromkeys(
            s["path"][len(prefix):] for s in self.spans
            if "group" in s and s["path"].startswith(prefix)))

    def seconds(self, span_path: str) -> float:
        """Total duration of the spans at one path (e.g. a step's plan phase
        in one pass)."""
        return sum(s["end"] - s["start"] for s in self.spans if s["path"] == span_path)

    def harvest(self, group: str) -> dict:
        """Spark's own counters for the jobs of one job group."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
        stage_ids = set()
        for jid in job_ids:
            info = sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = jsc.statusStore()
        jvm = sc._jvm  # noqa: SLF001
        no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        out = {"jobs": len(job_ids), "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in sorted(stage_ids):
            for sd in _seq(store.stageData(sid, False, jvm.java.util.ArrayList(),
                                           False, no_quantiles)):
                if sd.status().toString() != "COMPLETE":
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out.update(self._python_metrics(job_ids))
        return out

    def _python_metrics(self, job_ids: set) -> dict:
        sql = self.spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        totals = {PY_RUN: 0.0, PY_SENT: 0.0, PY_RETURNED: 0.0}
        for ex in _seq(sql.executionsList()):
            ex_jobs = {int(j) for j in _seq(ex.jobs().keys().toSeq())}
            if not ex_jobs & job_ids:
                continue
            # Copied into a dict: py4j would pass a small accumulator id to
            # the Map[Long, String] as an Integer, which never matches.
            values = {kv._1(): kv._2()
                      for kv in _seq(sql.executionMetrics(ex.executionId()).toSeq())}
            seen = set()
            for node in _seq(sql.planGraph(ex.executionId()).allNodes()):
                for metric in _seq(node.metrics()):
                    acc = metric.accumulatorId()
                    if metric.name() in totals and acc in values and acc not in seen:
                        seen.add(acc)
                        totals[metric.name()] += parse_metric(values[acc])
        return {"python_run_s": totals[PY_RUN],
                "python_bytes": totals[PY_SENT] + totals[PY_RETURNED]}

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)
