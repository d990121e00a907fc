"""Spans and Spark counters for the benchmark's traced run.

Everything here observes the engine from outside: public functions are
replaced by timing wrappers at every module binding, and Spark's own
bookkeeping (job groups, the status store, each query's
``QueryPlanningTracker`` and executed plan) is read after each
operation. No engine code is edited.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict

MB = 1e6
PHASES = ("parsing", "analysis", "optimization", "planning")
# per-stage executor totals read from the status store:
# metric -> (StageData getter, scale, unit)
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3, "s"),
    "executor_cpu_s": ("executorCpuTime", 1e-9, "s"),
    "jvm_gc_s": ("jvmGcTime", 1e-3, "s"),
    "input_mb": ("inputBytes", 1 / MB, "MB"),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB, "MB"),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MB, "MB"),
    "spill_mb": ("diskBytesSpilled", 1 / MB, "MB"),
    "failed_tasks": ("numFailedTasks", 1, "count"),
}


def rebind(module, name: str, make_wrapper) -> None:
    """Replace ``module.name`` with ``make_wrapper(original)`` in EVERY
    loaded module that holds the original object, whatever the name it
    is bound under (``from x import f`` copies the binding, so patching
    only the defining module would miss those call sites)."""
    orig = getattr(module, name)
    wrapped = make_wrapper(orig)
    for mod in list(sys.modules.values()):
        namespace = getattr(mod, "__dict__", None)
        if not isinstance(namespace, dict) or not mod.__name__.startswith(
            "morphl_community_edition_spark"
        ):
            continue
        for attr, value in list(namespace.items()):
            if value is orig:
                setattr(mod, attr, wrapped)


def storage_mb(spark) -> tuple[float, int]:
    """(MB held by persisted or checkpointed RDDs, number of persistent RDDs)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos) / MB
    return held, jsc.getPersistentRDDs().size()


class Tracer:
    """In-memory spans plus per-operation Spark counters.

    An operation (one query invocation, one pipeline day, one publish,
    one lookup) gets its own job group, so the jobs, stages and tasks
    it launched are attributed to it alone.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._op_seq = 0
        self.counts: dict[str, float] = defaultdict(float)
        # the pipeline day being traced: its job group, and the time and
        # job count at its last stage commit
        self.day: dict | None = None

    # ---------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, on_call=None):
        """Wrapper factory for ``rebind``: each call is a span named
        ``name``; ``on_call(args, kwargs)`` runs first (for counters)."""

        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                if on_call is not None:
                    on_call(args, kwargs)
                with self.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        return make

    def self_time(self, prefix: str, reset_from: int = 0) -> float:
        """Summed self time (duration minus children) of spans whose name
        starts with ``prefix``, over spans recorded from ``reset_from``."""
        spans = self.spans[reset_from:]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return sum(
            s["end"] - s["start"] - child[s["id"]]
            for s in spans
            if s["name"].startswith(prefix)
        )

    # ----------------------------------------------------- operations
    def begin_op(self, kind: str) -> str:
        self._op_seq += 1
        self.op = f"{kind}-{self._op_seq}"
        self.sc.setJobGroup(self.op, kind)
        return self.op

    def end_op(self) -> None:
        self.sc._jsc.clearJobGroup()
        self.op = None

    def settle(self) -> None:
        """Wait until the listener bus has delivered every Spark event,
        so the status store is complete for what already ran."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        self.settle()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Stage and task counts plus executor totals over the given jobs
        (skipped stages ran nothing and count as no stage)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(list(STAGE_FIELDS) + ["stages", "tasks"], 0.0)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                data = store.lastStageAttempt(sid)
                if str(data.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += data.numTasks()
                for key, (getter, scale, _unit) in STAGE_FIELDS.items():
                    out[key] += getattr(data, getter)() * scale
        return out

    @staticmethod
    def phases_ms(df) -> dict[str, float]:
        """Catalyst phase durations of the query behind ``df``'s last action."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in PHASES:
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    @staticmethod
    def scan_metrics(df) -> tuple[float, float]:
        """(files read, rows output) summed over the file scans of the
        executed plan behind ``df``'s last action."""
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        leaves = plan.collectLeaves()
        files = rows = 0.0
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "FileSourceScanExec":
                continue
            metrics = leaf.metrics()
            files += metrics.apply("numFiles").value()
            rows += metrics.apply("numOutputRows").value()
        return files, rows

