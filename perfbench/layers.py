"""Per-layer measurement: Spark's in-process status store and span tracing.

``StatusStore`` reads, after each traced operation, every SQL execution the
operation started: the final (post-AQE) plan graph with each operator's SQL
metrics, and the task data of each stage. The stores are filled by Spark's
own listeners with the UI disabled, so reading them starts no extra job.

``Tracer`` keeps spans in memory and writes them out once at the end.
``LayerCalls`` opens a span around each call the benchmark makes into a
layer's public function; Spark stages become its child spans, from their
submission and completion times.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}


def _iter(coll):
    """Iterate a Scala collection through py4j."""
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _parse_total(text: str) -> float:
    """Leading total of a status-store metric string, in bytes / ms / rows.
    Only used when the metric's accumulator was already collected."""
    line = text.splitlines()[-1].strip()
    num, _, rest = line.partition(" ")
    unit = rest.split(" ", 1)[0] if rest else ""
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()
        self._acc = sc._jvm.org.apache.spark.util.AccumulatorContext

    def _settle(self) -> None:
        # listener events are delivered asynchronously; wait until the
        # stores have seen the end of every job that already returned
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> int:
        """Largest execution id so far; pass it to ``collect``."""
        self._settle()
        return max((e.executionId() for e in _iter(self._sql.executionsList())), default=-1)

    def collect(self, since: int) -> dict:
        """Operators, edges and stages of every execution with id > since."""
        self._settle()
        execs = [e for e in _iter(self._sql.executionsList()) if e.executionId() > since]
        nodes, edges, stage_ids = [], [], set()
        for e in execs:
            eid = e.executionId()
            texts = {t._1(): t._2() for t in _iter(self._sql.executionMetrics(eid))}
            graph = self._sql.planGraph(eid)
            for n in _iter(graph.allNodes()):
                metrics = {}
                for m in _iter(n.metrics()):
                    acc = self._acc.get(m.accumulatorId())
                    text = texts.get(m.accumulatorId(), "")
                    if acc.isDefined():
                        value = float(acc.get().value())
                    elif text:
                        value = _parse_total(text)
                    else:
                        continue
                    if m.metricType() == "nsTiming":
                        value /= 1e6  # to ms, like "timing"
                    metrics[m.name()] = {"value": value, "text": text}
                nodes.append({"exec": eid, "id": n.id(), "name": n.name(), "metrics": metrics})
            edges += [(eid, ed.fromId(), ed.toId()) for ed in _iter(graph.edges())]
            stage_ids |= {int(s) for s in _iter(e.stages())}
        stages = [self._stage(s) for s in sorted(stage_ids)]
        return {"nodes": nodes, "edges": edges, "stages": [s for s in stages if s]}

    def _stage(self, sid: int) -> dict | None:
        try:
            sd = self._app.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage was evicted from the store
            return None
        sub, done = sd.submissionTime(), sd.completionTime()
        return {
            "id": sid,
            "attempt": sd.attemptId(),
            "name": sd.name(),
            "status": sd.status().toString(),
            "tasks": sd.numTasks(),
            "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000 if done.isDefined() else None,
            "run_ms": sd.executorRunTime(),
            "cpu_ns": sd.executorCpuTime(),
            "gc_ms": sd.jvmGcTime(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_write_records": sd.shuffleWriteRecords(),
            "fetch_wait_ms": sd.shuffleFetchWaitTime(),
        }

    def task_skew(self, sid: int, attempt: int) -> float | None:
        """max / median task duration of one stage attempt."""
        q = self._gateway.new_array(self._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._app.taskSummary(sid, attempt, q)
        if not summary.isDefined():
            return None
        d = summary.get().duration()
        med, mx = float(d.apply(0)), float(d.apply(1))
        return mx / med if med > 0 else None


def _sum_metric(nodes, name_prefix: str, metric: str) -> float:
    return sum(
        n["metrics"][metric]["value"]
        for n in nodes
        if n["name"].startswith(name_prefix) and metric in n["metrics"]
    )


def plan_metrics(store: StatusStore, snap: dict) -> dict:
    """Per-layer numbers of one operation from its status-store snapshot.
    Sizes in MB, times in s, rows/records as counts."""
    nodes, stages = snap["nodes"], snap["stages"]
    py = [n for n in nodes if "data sent to Python workers" in n["metrics"]]

    def py_sum(metric):
        return sum(n["metrics"][metric]["value"] for n in py if metric in n["metrics"])

    out = {
        "scan.s": _sum_metric(nodes, "Scan", "scan time") / 1e3,
        "scan.rows": _sum_metric(nodes, "Scan", "number of output rows"),
        "sort.s": _sum_metric(nodes, "Sort", "sort time") / 1e3,
        "sort.spill_mb": _sum_metric(nodes, "Sort", "spill size") / 2**20,
        "arrow.sent_mb": py_sum("data sent to Python workers") / 2**20,
        "arrow.returned_mb": py_sum("data returned from Python workers") / 2**20,
        "arrow.py_run_s": py_sum("time to run Python workers") / 1e3,
        "arrow.py_init_s": py_sum("time to initialize Python workers") / 1e3,
        "exchange.write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 2**20,
        "exchange.records": float(sum(s["shuffle_write_records"] for s in stages)),
        "exchange.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "jvm.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "jvm.executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "jvm.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
    }
    out["exchange.task_skew"] = _cogroup_skew(store, py)
    out.update(_cogroup_rows(snap))
    return out


def _cogroup_skew(store: StatusStore, py_nodes) -> float:
    """Task skew of the stage that ran the heaviest Python operator; the
    status store names that stage in the metric's "(stage S.A: task T)"."""
    best = max(
        (n for n in py_nodes if "time to run Python workers" in n["metrics"]),
        key=lambda n: n["metrics"]["time to run Python workers"]["value"],
        default=None,
    )
    if best is None:
        return 0.0
    m = _STAGE_RE.search(best["metrics"]["time to run Python workers"]["text"])
    if not m:
        return 0.0
    return store.task_skew(int(m.group(1)), int(m.group(2))) or 0.0


def _cogroup_rows(snap: dict) -> dict:
    """Left/right records shuffled into each co-grouped Python operator and
    rows it produced. Plan-graph edges run child -> parent; a co-group's
    first incoming edge is its left child."""
    nodes = {(n["exec"], n["id"]): n for n in snap["nodes"]}
    kids: dict = {}
    for eid, src, dst in snap["edges"]:
        kids.setdefault((eid, dst), []).append((eid, src))

    def exchange_records(key) -> float:
        todo = [key]
        while todo:
            n = nodes[todo.pop(0)]
            if n["name"] == "Exchange" and "shuffle records written" in n["metrics"]:
                return n["metrics"]["shuffle records written"]["value"]
            todo.extend(kids.get((n["exec"], n["id"]), ()))
        return 0.0

    left = right = out = 0.0
    for key, n in nodes.items():
        if n["name"].startswith("FlatMapCoGroupsIn") and len(kids.get(key, ())) == 2:
            lk, rk = kids[key]
            left += exchange_records(lk)
            right += exchange_records(rk)
            out += n["metrics"].get("number of output rows", {}).get("value", 0.0)
    return {"asof_join.left_rows": left, "asof_join.right_rows_kept": right, "asof_join.out_rows": out}


class Tracer:
    """In-memory spans: (id, parent, trace, name, start, end)."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, trace: int = 0, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "trace": trace, "name": name, "start": start, "end": end, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str):
        sid = self.add(name, time.time(), float("nan"))
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def add_stages(self, snap: dict, parent: int, trace: int) -> None:
        for st in snap["stages"]:
            if st["start"] is not None and st["end"] is not None:
                self.add(f"stage {st['id']}: {st['name']}", st["start"], st["end"], parent, trace,
                         tasks=st["tasks"], status=st["status"])

    def self_time(self, sid: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[sid]
        iv = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.spans
            if c["parent"] == sid
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s["end"] - s["start"]) - covered

    def dump(self, path) -> None:
        rows = [{**s, "dur_s": s["end"] - s["start"], "self_s": self.self_time(s["id"])} for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


class LayerCalls:
    """Wall time of each layer call in one operation; when traced, also a
    span per call and the status-store snapshot of the call's Spark jobs."""

    def __init__(self, tracer=None, store=None, parent=None, trace=0):
        self.tracer, self.store, self.parent, self.trace = tracer, store, parent, trace
        self.seconds: dict[str, float] = {}
        self.snaps: list[dict] = []

    @contextmanager
    def call(self, name: str):
        mark = self.store.mark() if self.store else None
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = time.perf_counter() - t0
            if self.tracer is not None:
                sid = self.tracer.add(name, start, time.time(), self.parent, self.trace)
                if self.store is not None:
                    snap = self.store.collect(mark)
                    self.snaps.append(snap)
                    self.tracer.add_stages(snap, sid, self.trace)
