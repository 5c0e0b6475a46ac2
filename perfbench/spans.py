"""Spans for the traced run: kept in memory, written out when the run ends.

A span records (id, parent, name, start, end, attrs) around a call from
the benchmark into one layer of the program. Self time is a span's
duration minus the time its child spans cover. With tracing off the
workloads get NULL_TRACER, whose span() does nothing.

Spark's own per-stage counters come from the live status store, read
after each traced action for the job groups the action ran under
(`sc.setJobGroup`); they work with `spark.ui.enabled=false`.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import Counter, defaultdict
from collections.abc import Callable

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    enabled = True

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: Counter = Counter()
        # time spent inside this class (span bookkeeping, job-group
        # calls, status-store reads): the tracing overhead of the run
        self.bookkeeping_s = 0.0
        self._groups = 0
        self._group_stack: list[tuple[str, str]] = []  # (group id, span name)

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        group = None
        if job_group and self.sc is not None:
            self._groups += 1
            group = f"pb{self._groups}"
            self.sc.setJobGroup(group, name)
            self._group_stack.append((group, name))
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                rec["stages"] = self._stage_totals(group)
                self._group_stack.pop()
                # back to the enclosing span's group, if any
                if self._group_stack:
                    self.sc.setJobGroup(*self._group_stack[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def _stage_totals(self, group: str) -> dict:
        """Jobs and summed stage metrics of every job in one job group."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        job_ids = list(tracker.getJobIdsForGroup(group))
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False, no_quantiles
                )
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    totals["tasks"] += st.numCompleteTasks()
                    totals["executor_run_s"] += st.executorRunTime() / 1e3
                    totals["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    totals["input_bytes"] += st.inputBytes()
                    totals["shuffle_read_bytes"] += st.shuffleReadBytes()
                    totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    totals["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        totals["jobs"] = len(job_ids)
        return totals

    # ---- analysis ----------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += self.duration(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += self.duration(s) - child_time[s["id"]]
        return dict(out)

    def stage_sum(self, names: tuple[str, ...] | None = None) -> dict[str, float]:
        """Summed Spark stage metrics over spans that ran a job group
        (all of them, or those with the given names)."""
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "stages" in s and (names is None or s["name"] in names):
                for k, v in s["stages"].items():
                    totals[k] += v
        return totals

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class _NullTracer:
    enabled = False

    def span(self, name: str, job_group: bool = False, **attrs):
        return contextlib.nullcontext()


NULL_TRACER = _NullTracer()


def wrap_memos(tracer: Tracer, names: dict[int, str]) -> Callable[[], None]:
    """Count SessionMemo builds and hits and span each build, by wrapping
    get_or_build for this process. `names` maps id(memo) -> its module
    global's name. Returns a function that removes the wrapper, so work
    done after the measured passes adds nothing to the counts.

    Memoized relations are lazy checkpoints: build() runs the shuffle
    stages under them (adaptive execution plans them eagerly) but leaves
    the last stage to the first action that reads the relation. The
    wrapper fills each built checkpoint inside its `memo.build` span, in
    a `memo.materialize` child span with a job group of its own, so the
    whole build is billed to the memo and not to the query that happens
    to read it first. Those extra jobs stay out of the registry
    function's own job count."""
    from pyspark.sql import DataFrame

    from snackfs_spark.memo import SessionMemo

    original = SessionMemo.get_or_build

    def get_or_build(self, key, build):
        name = names.get(id(self), "?")
        built = []

        def timed_build():
            built.append(True)
            with tracer.span("memo.build", memo=name):
                value = build()
                with tracer.span("memo.materialize", job_group=True, memo=name):
                    for df in value if isinstance(value, tuple) else (value,):
                        if isinstance(df, DataFrame):
                            df.count()
                return value

        with tracer.span("memo.get_or_build", memo=name):
            value = original(self, key, timed_build)
        tracer.counters["memo.builds" if built else "memo.hits"] += 1
        return value

    SessionMemo.get_or_build = get_or_build

    def unwrap() -> None:
        SessionMemo.get_or_build = original

    return unwrap
