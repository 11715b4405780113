"""In-memory spans plus the Spark status-store counts attached to them.

A span is (name, start, end, parent, run id). With tracing on, every
operation span also becomes a Spark job group, so after the pass the jobs
it ran can be read back from Spark's status stores (the UI is off, but the
``AppStatusStore`` and ``SQLAppStatusStore`` still fill) and attributed to
the span, and to the phase span whose interval holds each job's submission
time. Nothing here calls into the engine: it only reads Spark's stores.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager

# Arrow-UDF plan nodes (mapInPandas / applyInPandas / cogroup / pandas UDF)
_PY_NODE = re.compile(r"InPandas|ArrowEvalPython|ArrowWindowPython|InArrow")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Value of one SQL metric string: '12 ms', '1,024', '3.1 MiB', or the
    'total (min, med, max ...)\\n<total> (...)' form of per-task metrics."""
    line = text.strip().splitlines()[-1] if "total" in text else text.strip()
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Tracer:
    """Span recorder; ``enabled=False`` records spans but touches no Spark
    state, so the untraced run pays only two clock reads per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.collect_s = 0.0
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = dict(
            id=sid,
            name=name,
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            start=time.time(),
            end=None,
            **attrs,
        )
        self.spans.append(rec)
        group = f"{self.run_id}:{sid}"
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(group, name)
            rec["group"] = group
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if self.enabled and self.sc is not None:
                parent = next((s for s in self.spans if s["id"] == rec["parent"]), None)
                if parent is not None and parent.get("group"):
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def add_phases(self, op: dict, start: float, timings: dict, order: list[str]) -> None:
        """Child spans of ``op`` for the runner's phase split (``timings=``):
        the phases run back to back, in ``order``, from ``start`` (the wall
        clock when the runner was called)."""
        t = start
        for ph in order:
            if ph not in timings:
                continue
            self.spans.append(
                dict(
                    id=next(self._ids),
                    name=ph,
                    parent=op["id"],
                    run_id=self.run_id,
                    start=t,
                    end=t + timings[ph],
                    phase=True,
                )
            )
            t += timings[ph]

    # -- status-store readout -------------------------------------------------

    def collect(self, spark) -> None:
        """Attach Spark counts to every span that owns a job group, and to its
        phase children. Run once, after the timed work."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        groups = {s["group"]: s for s in self.spans if s.get("group")}
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s.get("phase"):
                children.setdefault(s["parent"], []).append(s)
        q = sc._gateway.new_array(sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        job_owner: dict[int, dict] = {}
        seen_stages: set[int] = set()
        for j in _seq(store.jobsList(None)):
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in groups:
                continue
            op = groups[g.get()]
            sub = j.submissionTime().get().getTime() / 1000.0
            phases = children.get(op["id"], [])
            target = [op] + [c for c in phases if c["start"] <= sub < c["end"]]
            # outside every phase interval (the runner's split is rounded to
            # ms): the nearest phase, first or last
            if len(target) == 1 and phases:
                target.append(phases[0] if sub < phases[0]["start"] else phases[-1])
            job_owner[j.jobId()] = op
            stats = dict(jobs=1, tasks=0, task_time_s=0.0, shuffle_write_bytes=0,
                         spill_bytes=0, task_skew=0.0)
            for sid in _seq(j.stageIds()):
                if sid in seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                seen_stages.add(sid)
                stats["tasks"] += st.numTasks()
                stats["task_time_s"] += st.executorRunTime() / 1000.0
                stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                stats["spill_bytes"] += st.diskBytesSpilled()
                if st.numTasks() > 1:
                    summ = store.taskSummary(sid, st.attemptId(), q)
                    if summ.isDefined():
                        rt = _seq(summ.get().executorRunTime())
                        if rt[0] > 0:
                            stats["task_skew"] = max(stats["task_skew"], rt[1] / rt[0])
            for s in target:
                c = s.setdefault("spark", {})
                for k, v in stats.items():
                    c[k] = max(c.get(k, 0), v) if k == "task_skew" else c.get(k, 0) + v
        self._collect_sql(spark, job_owner)
        self.collect_s += time.perf_counter() - t0

    def _collect_sql(self, spark, job_owner: dict[int, dict]) -> None:
        """Arrow-UDF boundary bytes/rows and parquet-scan counts per op, from
        the SQL status store's plan graphs."""
        sql = spark._jsparkSession.sharedState().statusStore()
        for e in _seq(sql.executionsList()):
            jobs = [int(str(k)) for k in _seq(e.jobs().keys().toSeq())]
            op = next((job_owner[k] for k in jobs if k in job_owner), None)
            if op is None:
                continue
            mets = sql.executionMetrics(e.executionId())
            c = op.setdefault("sql", {})
            for node in _seq(sql.planGraph(e.executionId()).allNodes()):
                name = node.name()
                py = bool(_PY_NODE.search(name))
                scan = name.startswith("Scan parquet")
                if not (py or scan):
                    continue
                for m in _seq(node.metrics()):
                    v = mets.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    key = {
                        (True, "data sent to Python workers"): "udf.bytes_sent",
                        (True, "data returned from Python workers"): "udf.bytes_returned",
                        (True, "number of output rows"): "udf.rows_returned",
                        (False, "number of output rows"): "scan.rows",
                        (False, "number of files read"): "scan.files",
                    }.get((py, m.name()))
                    if key:
                        c[key] = c.get(key, 0.0) + parse_metric(v.get())

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(dict(extra, spans=self.spans), f, indent=1, default=str)
