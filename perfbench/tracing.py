"""Outside-in tracing: spans around calls into the program, plus Spark's own
status stores.

Spans are recorded by replacing a module attribute with a timing wrapper,
so no program file changes.  Each span holds name, start, end, parent and
run id; they stay in memory and are written out when the run ends.  A
layer's self time is its span minus the spans of its children.

``SparkLedger`` reads what Spark already records for every job: the job and
stage lists (``AppStatusStore``) and the per-node SQL metrics
(``SQLAppStatusStore``).  Both are populated with the UI off.
"""

from __future__ import annotations

import functools
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans of one run (or one traced iteration), kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``unwrap_all``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def self_seconds(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed by name."""
        child = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = defaultdict(float)
        for i, rec in enumerate(self.spans):
            out[rec["name"]] += rec["end"] - rec["start"] - child[i]
        return dict(out)

    def total_seconds(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.spans if r["name"] == name)


# --- Spark status stores ---------------------------------------------------

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_VALUE = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric: '1,416', '409 ms', or the
    'total (min, med, max ...)\\n3.6 s (...)' form (the total is used)."""
    m = _VALUE.match(text.strip().split("\n")[-1])
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit, 1))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkLedger:
    """Job, stage, task and SQL-node metrics of the jobs run under a job
    description prefix (one description per workload step)."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.step_s: dict[str, float] = {}  # wall seconds of each step

    @contextmanager
    def step(self, group: str):
        """Run the enclosed Spark jobs under job group ``group``."""
        self._sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.step_s[group] = time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def stages(self, prefix: str, tasks: bool = True) -> list[dict]:
        """Completed stages of every job whose group starts with ``prefix``;
        ``tasks=False`` skips the per-task durations (one py4j call per
        task), leaving ``task_s`` empty."""
        stage_ids = set()
        for job in _seq(self._store.jobsList(None)):
            group = job.jobGroup()
            if group.isDefined() and group.get().startswith(prefix):
                stage_ids.update(int(s) for s in _seq(job.stageIds()))
        out = []
        for sid in sorted(stage_ids):
            for st in _seq(self._store.stageData(sid, False, None, False, self._no_quantiles)):
                if st.status().toString() != "COMPLETE":
                    continue
                durations = []
                if tasks:
                    listed = _seq(self._store.taskList(sid, st.attemptId(), 1_000_000))
                    durations = [t.duration().get() / 1e3 for t in listed
                                 if t.duration().isDefined()]
                out.append(
                    {
                        "id": sid,
                        "tasks": st.numTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "shuffle_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        "task_s": durations,
                    }
                )
        return out

    def jobs(self, prefix: str) -> int:
        n = 0
        for job in _seq(self._store.jobsList(None)):
            group = job.jobGroup()
            n += group.isDefined() and group.get().startswith(prefix)
        return n

    def sql_nodes(self, prefix: str) -> list[tuple[int, str, dict[str, float]]]:
        """(execution id, node name, {metric: value}) for every plan node of
        the SQL executions described ``prefix...``."""
        out = []
        for ex in _seq(self._sql.executionsList()):
            if not (ex.description() or "").startswith(prefix):
                continue
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = _metric_value(v.get())
                out.append((eid, node.name(), metrics))
        return out

    def stored_bytes(self, rdd_ids: set[int]) -> int:
        return sum(
            info.memSize() + info.diskSize()
            for info in self._sc._jsc.sc().getRDDStorageInfo()
            if info.id() in rdd_ids
        )


def task_skew(stages: list[dict]) -> float:
    """Largest max/median task duration over stages with several tasks."""
    ratios = [
        max(s["task_s"]) / statistics.median(s["task_s"])
        for s in stages
        if len(s["task_s"]) > 1 and statistics.median(s["task_s"]) > 0
    ]
    return max(ratios, default=1.0)
