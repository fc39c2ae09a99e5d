"""Per-layer recording for the traced run, from the benchmark's side.

- Each operation (a registry key or a sink call) runs under
  ``spark.addTag(<label>)``; after the run, the status REST API's
  ``/jobs`` and ``/stages`` are grouped by tag into a per-operation
  ledger of jobs, stages, tasks and executor metrics.
- A ``StreamingQueryListener`` keeps every ``QueryProgressEvent``.
- Catalyst phase times come from the DataFrame's
  ``queryExecution().tracker()``.
- Python-worker CPU comes from this process's own subtree.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import urllib.request
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

from meter import TreeMeter

UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


class _Progress(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self.lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _ms(stamp: str | None) -> float | None:
    """REST/progress timestamp ('2026-01-01T00:00:00.123GMT' or '...Z')
    to epoch seconds."""
    if not stamp:
        return None
    stamp = stamp.replace("GMT", "").replace("Z", "")
    return dt.datetime.fromisoformat(stamp).replace(tzinfo=dt.timezone.utc).timestamp()


def _union(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.listener = _Progress()
        spark.streams.addListener(self.listener)
        self.meter = TreeMeter(os.getpid())
        self._cpu0: dict[str, dict[str, float]] = {}

    def begin(self, label: str) -> None:
        self._cpu0[label] = self.meter.mark()
        self.spark.addTag(label)

    def end(self, label: str, rec: dict) -> None:
        self.spark.removeTag(label)
        after, before = self.meter.mark(), self._cpu0.pop(label)
        rec["py_worker_cpu_s"] = after["py_workers"] - before["py_workers"]
        rec["py_driver_cpu_s"] = after["root"] - before["root"]
        rec["tree_cpu_s"] = after["tree"] - before["tree"]

    def plan_ms(self, df) -> float:
        """Plan ``df`` and return its Catalyst phase total (analysis,
        optimization, planning) in ms."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        jvm = self.spark.sparkContext._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        return float(sum(phases.get(k).durationMs() for k in phases.keySet()))

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def collect(self, ops: list[dict]) -> dict:
        """Group jobs and stages by tag; attach progress events to the
        operation whose interval holds their trigger time."""
        time.sleep(1.0)  # let the listener bus deliver the last events
        jobs = self._get("/jobs")
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("/stages")
            if s.get("status") == "COMPLETE"
        }
        by_stage: dict[int, str] = {}
        ledger: dict[str, Counter] = {}
        spans: dict[str, list[tuple[float, float]]] = {}
        labels = {o["key"] for o in ops}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            s, e = _ms(job.get("submissionTime")), _ms(job.get("completionTime"))
            tagged = [t for t in job.get("jobTags", []) if t in labels]
            if not tagged and s is not None:
                # Jobs started on threads that do not inherit the
                # caller's tags (a streaming query's micro-batches) go to
                # the operation running when they were submitted.
                tagged = [o["key"] for o in ops if o["start"] <= s <= o["end"]][:1]
            for tag in tagged:
                led = ledger.setdefault(tag, Counter())
                led["jobs"] += 1
                if s is not None and e is not None:
                    spans.setdefault(tag, []).append((s, e))
                for sid in job.get("stageIds", []):
                    by_stage.setdefault(sid, tag)
        for (sid, _att), st in stages.items():
            tag = by_stage.get(sid)
            if tag is None:
                continue
            led = ledger[tag]
            led["stages"] += 1
            led["tasks"] += st.get("numCompleteTasks", st.get("numTasks", 0))
            led["exec_run_s"] += st.get("executorRunTime", 0) / 1e3
            led["exec_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            led["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            led["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            led["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            led["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        for op in ops:
            led = ledger.setdefault(op["key"], Counter())
            clipped = [(max(s, op["start"]), min(e, op["end"]))
                       for s, e in spans.get(op["key"], [])]
            led["job_span_s"] = _union([(s, e) for s, e in clipped if e > s])
        with self.listener.lock:
            progress = list(self.listener.events)
        for ev in progress:
            t = _ms(ev.get("timestamp"))
            ev["op"] = next((o["key"] for o in ops
                             if t is not None and o["start"] - 0.5 <= t <= o["end"]), None)
        return {"ledger": ledger, "progress": progress}

    def close(self) -> None:
        try:
            self.spark.streams.removeListener(self.listener)
        finally:
            self.meter.stop()
