"""Outside-in instrumentation of ``pipeline.run_incremental``.

Nothing here edits the program.  ``Probe`` swaps the public functions the
incremental loop looks up in its module namespaces for thin wrappers and
hands the loop a ``Lake`` subclass; ``Probe.uninstall`` puts every original
back.

* Untraced (``tracing=False``): two timestamps per batch — the
  ``run_batch`` call and the end of ``Lake.mark_complete`` — which give the
  commit latency.  Nothing else is touched.
* Traced: spans at every layer boundary (name, trace, start, end, parent;
  the batch id is the trace id), kept in memory, plus a Spark job
  description on every job so the event log's stages fold into the spans.

Lazy builders (``predict_nil``, ``detect_encode_retrieve``,
``retrieve_topk_indexed``) return a plan in ~0.02 s; the work runs in the
action that follows them inside ``run_batch``.  So the wrappers use them as
*marks*: leaving ``predict_nil`` opens the ``fused`` phase, which lasts until
the clustering call, and so on.  Consecutive marks tile ``run_batch``
without gaps, and the event log supplies each phase's executor time.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from incremental_entity_extraction_spark import pipeline
from incremental_entity_extraction_spark.operators import (
    ann_index,
    fused,
    retrieval_ann,
)

RUN_TRACE = "run"  # trace id of spans that belong to no single batch


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    sid: int
    name: str
    trace: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    that its children's spans cover (overlapping children count once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.sid: s.dur
        - covered([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end)
        for s in spans
    }


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def open(self, name: str, trace: str, parent: Span | None = None,
             start: float | None = None, **attrs) -> Span:
        s = Span(next(self._ids), name, str(trace),
                 time.time() if start is None else start,
                 parent=parent.sid if parent is not None else None, attrs=attrs)
        with self._lock:
            self.spans.append(s)
        return s

    @staticmethod
    def close(s: Span, end: float | None = None) -> Span:
        s.end = time.time() if end is None else end
        return s


# ---------------------------------------------------------------- probe
def _label(sc, text: str | None) -> None:
    # the job-description local property is per thread (pinned threads), so
    # every thread that submits jobs labels its own
    sc.setLocalProperty("spark.job.description", text)


class Probe:
    """Patch the incremental loop's collaborators; one instance per
    ``run_incremental`` call (``batch_ids`` = the order it will run them)."""

    def __init__(self, spark, tracing: bool, call: int = 0,
                 retrieval_mode: str = "broadcast",
                 tracer: Tracer | None = None) -> None:
        self.sc = spark.sparkContext
        self.tracing = tracing
        self.call = call
        self.ivf = retrieval_mode != "broadcast"
        self.tracer = tracer or Tracer()
        self.run_batch_at: dict[int, float] = {}
        self.committed_at: dict[int, float] = {}
        self.stats: dict[int, dict] = {}
        self.driver_path: set[int] = set()
        self.index_builds = 0
        self._saved: list[tuple[object, str, object]] = []
        self._root: dict[int, Span] = {}
        self._persist: dict[int, int] = {}       # id(BatchPersist) -> batch
        self._persist_spans: dict[int, Span] = {}
        self._cur_persist: int | None = None
        self._rw_done: dict[int, float] = {}
        self._phase: Span | None = None
        self._run_batch_span: Span | None = None
        self._cur: int | None = None
        self.run_span: Span | None = None
        self._tls = threading.local()

    # -- labels and spans ---------------------------------------------
    def label(self, phase: str | None, b: int | str | None = None) -> str | None:
        """Label this thread's next Spark jobs; returns the previous label."""
        prev = getattr(self._tls, "label", None)
        if self.tracing:
            tail = f"|b={b}" if b is not None else ""
            self._tls.label = f"{phase}|c={self.call}{tail}" if phase else None
            _label(self.sc, self._tls.label)
        return prev

    def restore(self, prev: str | None) -> None:
        """Put back the label ``label`` returned."""
        if self.tracing:
            self._tls.label = prev
            _label(self.sc, prev)

    def mark(self, phase: str) -> None:
        """Start the next phase of the running ``run_batch``."""
        if not self.tracing or self._run_batch_span is None:
            return
        if self._phase is not None:
            if self._phase.name == phase:
                return
            self.tracer.close(self._phase)
        self._phase = self.tracer.open(phase, self._cur, self._run_batch_span)
        self.label(phase, self._cur)

    def span(self, name: str, b, fn, *a, parent: Span | None = None, **k):
        """Run ``fn`` inside a span of trace ``b`` labelled ``name``."""
        if not self.tracing:
            return fn(*a, **k)
        s = self.tracer.open(name, b if b is not None else RUN_TRACE,
                             parent if parent is not None else self._root.get(b, self.run_span))
        prev = self.label(name, b)
        try:
            return fn(*a, **k)
        finally:
            self.tracer.close(s)
            self.restore(prev)

    # -- patching ------------------------------------------------------
    def _patch(self, mod, name: str, new) -> None:
        self._saved.append((mod, name, getattr(mod, name)))
        setattr(mod, name, new)

    def install(self, batch_ids: list[int]) -> "Probe":
        self._next = iter(batch_ids)
        P = pipeline
        orig_run_batch = P.run_batch

        def run_batch(*a, **k):
            b = next(self._next)
            t0 = time.time()
            self.run_batch_at[b] = t0
            self._cur = b
            if not self.tracing:
                return orig_run_batch(*a, **k)
            root = self.tracer.open("batch", b, self.run_span, start=t0)
            self._root[b] = root
            self._run_batch_span = self.tracer.open(
                "pipeline.run_batch", b, root, start=t0)
            self._phase = None
            self.mark("pipeline.batch_prep")
            try:
                return orig_run_batch(*a, **k)
            finally:
                self.tracer.close(self._phase)
                self.tracer.close(self._run_batch_span)
                self._phase = self._run_batch_span = None
                self.label("pipeline.loop")

        self._patch(P, "run_batch", run_batch)
        self.label("pipeline.loop")
        orig_build = ann_index.build_ann_index

        def build_ann_index(*a, **k):
            # the timed run must load the index set-up built, never rebuild
            self.index_builds += 1
            return orig_build(*a, **k)

        self._patch(ann_index, "build_ann_index", build_ann_index)
        if not self.tracing:
            return self
        self._install_traced()
        return self

    def _install_traced(self) -> None:
        P = pipeline
        probe = self

        def after(fn, phase):
            def w(*a, **k):
                out = fn(*a, **k)
                self.mark(phase)
                return out
            return w

        def before(fn, phase, driver_path=False):
            def w(*a, **k):
                if driver_path and self._cur is not None:
                    self.driver_path.add(self._cur)
                self.mark(phase)
                return fn(*a, **k)
            return w

        search = "ann_index.search"
        self._patch(P, "predict_nil", after(P.predict_nil, search if self.ivf else "fused"))
        self._patch(fused, "detect_encode", after(fused.detect_encode, "fused"))
        self._patch(retrieval_ann, "retrieve_topk_indexed",
                    before(retrieval_ann.retrieve_topk_indexed, search))
        self._patch(P, "_driver_cluster_assign",
                    before(P._driver_cluster_assign, "clustering", driver_path=True))
        for name in ("cluster_cc", "cluster_summarize_cc", "cluster_summarize_greedy",
                     "cluster_three_step", "cluster_tfidf"):
            self._patch(P, name, before(getattr(P, name), "clustering"))

        orig_shards = P.build_kb_shards
        self._patch(P, "build_kb_shards", lambda *a, **k: self.span(
            "retrieval.kb_shards", None, orig_shards, *a, **k))
        orig_persist_delta = ann_index.persist_delta

        def persist_delta(model, spark, rows, added_batch):
            return self.span("ann_index.persist_delta", int(added_batch),
                             orig_persist_delta, model, spark, rows, added_batch)

        self._patch(ann_index, "persist_delta", persist_delta)
        orig_ensure = ann_index.ensure_ann_index
        self._patch(ann_index, "ensure_ann_index", lambda *a, **k: self.span(
            "ann_index.ensure", None, orig_ensure, *a, **k))

        class LabelledPool(ThreadPoolExecutor):
            """BatchPersist's writer pool: each worker thread labels its
            jobs with the batch whose persist created the pool."""

            def __init__(self, *a, **k):
                b = probe._cur_persist

                def init():
                    probe._tls.batch = b
                    probe.label("pipeline.persist", b)

                super().__init__(*a, initializer=init, **k)

        self._patch(P, "ThreadPoolExecutor", LabelledPool)

        class TracedPersist(P.BatchPersist):
            def start(self_, *a, **k):
                b = probe._cur
                probe._cur_persist = b
                probe._persist[id(self_)] = b
                s = probe.tracer.open("pipeline.persist_start", b, probe._root.get(b))
                probe._persist_spans[b] = s   # parent of this batch's writes
                prev = probe.label("pipeline.persist_start", b)
                try:
                    return super().start(*a, **k)
                finally:
                    probe.tracer.close(s)
                    probe.restore(prev)

            def rw_delta(self_):
                b = probe._persist.get(id(self_))
                try:
                    return probe.span("pipeline.rw_delta_wait", b, super().rw_delta)
                finally:
                    probe._rw_done[b] = time.time()

            def finish(self_):
                b = probe._persist.get(id(self_))
                if b in probe._rw_done:
                    # the driver served the neighbouring batches meanwhile
                    s = probe.tracer.open("pipeline.overlap", b, probe._root.get(b),
                                          start=probe._rw_done[b])
                    probe.tracer.close(s)
                return probe.span("pipeline.drain_wait", b, super().finish)

        self._patch(P, "BatchPersist", TracedPersist)

    def uninstall(self) -> None:
        while self._saved:
            mod, name, val = self._saved.pop()
            setattr(mod, name, val)
        self.label(None)

    def __enter__(self) -> "Probe":
        return self

    def __exit__(self, *exc) -> None:
        self.uninstall()

    # -- the Lake the loop is handed -------------------------------------
    def lake(self, root: str) -> pipeline.Lake:
        probe = self

        class ProbedLake(pipeline.Lake):
            def write_partition(self_, df, table):
                if not probe.tracing:
                    return super().write_partition(df, table)
                b = getattr(probe._tls, "batch", None)
                parent = probe._persist_spans.get(b) if b is not None else probe.run_span
                s = probe.tracer.open("pipeline.write", b if b is not None else RUN_TRACE,
                                      parent, table=table)
                prev = probe.label(f"pipeline.write.{table}", b)
                try:
                    return super().write_partition(df, table)
                finally:
                    probe.tracer.close(s)
                    probe.restore(prev)

            def read(self_, spark, table):
                return probe.span("pipeline.lake_read", None, super().read, spark,
                                  table, parent=probe.run_span)

            def mark_complete(self_, batch_id, stats):
                b = int(batch_id)
                probe.span("pipeline.mark_complete", b, super().mark_complete, batch_id, stats)
                probe.committed_at[b] = time.time()
                probe.stats[b] = dict(stats)
                root = probe._root.get(b)
                if root is not None:
                    probe.tracer.close(root, probe.committed_at[b])

        return ProbedLake(root)

    # -- results ---------------------------------------------------------
    def commit_latencies(self) -> dict[int, float]:
        return {
            b: self.committed_at[b] - self.run_batch_at[b]
            for b in self.run_batch_at
            if b in self.committed_at
        }


# ---------------------------------------------------------------- event log
@dataclass
class JobInfo:
    job_id: int
    label: str | None
    submitted: float
    stages: list[int]


@dataclass
class StageAgg:
    label: str | None = None
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    result_mb: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    task_s: list = field(default_factory=list)   # per-task wall (finish - launch)
    launch: list = field(default_factory=list)


_MB = 1024.0 * 1024.0


def read_event_log(path: str) -> tuple[list[JobInfo], dict[int, StageAgg]]:
    """Jobs (with their description label) and per-stage task totals from
    one uncompressed Spark event log."""
    jobs: list[JobInfo] = []
    stages: dict[int, StageAgg] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(JobInfo(
                    ev["Job ID"], props.get("spark.job.description"),
                    ev["Submission Time"] / 1000.0, list(ev.get("Stage IDs", [])),
                ))
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, StageAgg()).label = props.get(
                    "spark.job.description")
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageAgg())
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                st.task_s.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
                st.launch.append(info.get("Launch Time", 0) / 1000.0)
                st.run_s += m.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                st.result_mb += m.get("Result Size", 0) / _MB
                st.spill_mb += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / _MB
                st.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / _MB
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / _MB
    return jobs, stages


def parse_label(label: str | None) -> tuple[str, int | None, int | None] | None:
    """``"phase|c=2|b=7"`` → ("phase", 2, 7); None for unlabelled jobs."""
    if not label or "|c=" not in label:
        return None
    phase, *kv = label.split("|")
    d = dict(x.split("=", 1) for x in kv)
    return phase, int(d["c"]), (int(d["b"]) if "b" in d else None)


@dataclass
class Fold:
    """Event-log totals for one (phase, call, batch) label."""
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    result_mb: float = 0.0
    task_s: list = field(default_factory=list)


def fold(jobs: list[JobInfo], stages: dict[int, StageAgg]):
    """Fold the event log into {(phase, call, batch): Fold}; tasks go to the
    label of the job that submitted their stage."""
    out: dict[tuple, Fold] = {}
    for j in jobs:
        key = parse_label(j.label)
        if key is not None:
            out.setdefault(key, Fold()).jobs += 1
    for st in stages.values():
        key = parse_label(st.label)
        if key is None:
            continue
        f = out.setdefault(key, Fold())
        f.tasks += len(st.task_s)
        f.run_s += st.run_s
        f.cpu_s += st.cpu_s
        f.gc_s += st.gc_s
        f.shuffle_mb += st.shuffle_write_mb + st.shuffle_read_mb
        f.shuffle_write_mb += st.shuffle_write_mb
        f.spill_mb += st.spill_mb
        f.result_mb += st.result_mb
        f.task_s.extend(st.task_s)
    return out


def find_event_log(log_dir: str, app_id: str) -> str:
    for fn in os.listdir(log_dir):
        if fn.startswith(app_id) and not fn.endswith(".inprogress"):
            return os.path.join(log_dir, fn)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default
