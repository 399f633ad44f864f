"""Workloads, sessions, timed calls, oracle gate and metrics (see run.py)."""

from __future__ import annotations

import ctypes
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark import SparkContext

from incremental_entity_extraction_spark.operators.ann_index import ensure_ann_index
from incremental_entity_extraction_spark.operators.retrieval_ann import composite_corpus
from incremental_entity_extraction_spark.pipeline import (
    DRIVER_CLUSTER_MAX,
    Lake,
    run_incremental,
)
from incremental_entity_extraction_spark.session import get_spark

from spans import (
    Probe,
    find_event_log,
    fold,
    median,
    read_event_log,
    self_times,
)
from worlds import Shape, build_world, cfg_for, digest, f1, triple_set

CORES = len(os.sched_getaffinity(0))   # nproc
DRIVER_MEMORY = "4g"    # the session default (16g) exceeds a 15 GB host
SESSIONS = 3
UNATTRIBUTED_MAX = 0.05  # a batch's root span may keep at most 5% self time

WORKLOADS: dict[str, Shape] = {
    # many small batches over a 20k x 64 KB at 3% NIL (a few NIL mentions in
    # every batch, so every batch grows the RW KB); every batch takes the
    # driver clustering path, so the per-batch fixed cost dominates
    "small_batches": Shape(
        n_entities=20_000, dim=64, nil_frac=0.03, n_convs=1170, hot_turns=60,
        batches_per_call=4, calls=3, call_s=4.5, warm_batches=4, driver_path=True,
    ),
    # 3-batch loops in retrieval_mode='ivf' against a persisted IVF index over
    # a 10k x 64 KB; every batch runs the ann_index search DAG and writes an
    # index delta through persist_delta.  A loop's last batch commits alone,
    # the others while the next batch computes, so a loop needs 3 batches for
    # the commit-latency median to fall among the overlapped ones (with 2,
    # the median of 4 lies between the two modes)
    "ivf_batches": Shape(
        n_entities=10_000, dim=64, nil_frac=0.03, n_convs=300, hot_turns=60,
        batches_per_call=3, calls=2, call_s=10.0, warm_batches=2, warm_calls=2,
        retrieval_mode="ivf", gate=0.95,
    ),
}


# ------------------------------------------------------------ sessions
def _conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # keep the JVM's scratch files (and its perf-data file) in the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        # one uncompressed file: Spark 4.1 defaults to rolling zstd logs, and
        # Python 3.11's standard library cannot read zstd
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _malloc_trim() -> None:
    """Hand freed heap back to the OS, so the world build's garbage does
    not count towards the run's peak RSS."""
    libc = ctypes.CDLL("libc.so.6")
    libc.malloc_trim.argtypes = [ctypes.c_size_t]
    libc.malloc_trim.restype = ctypes.c_int
    libc.malloc_trim(0)


def _reset_hwm(pid: int | str) -> None:
    """Restart a process's peak-RSS count from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


@dataclass
class Call:
    """One timed ``run_incremental`` call and what its checks found."""
    traced: bool
    wall: float
    turns_per_s: float
    latencies: list
    batches: int
    failed: int
    f1: float
    digest: str
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    probe: Probe | None = None
    t0: float = 0.0
    files: dict = field(default_factory=dict)
    ids: list = field(default_factory=list)


def _lake_files(root: str, batch_ids: list[int]) -> dict[int, tuple[int, int]]:
    """(files, bytes) each batch left in the lake's batch_id partitions."""
    out = {b: [0, 0] for b in batch_ids}
    for table in os.listdir(root):
        tdir = os.path.join(root, table)
        if not os.path.isdir(tdir):
            continue
        for part in os.listdir(tdir):
            if not part.startswith("batch_id="):
                continue
            b = int(part.split("=", 1)[1])
            if b not in out:
                continue
            for dp, _, fns in os.walk(os.path.join(tdir, part)):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        out[b][0] += 1
                        out[b][1] += os.path.getsize(os.path.join(dp, fn))
    return {b: (n, s) for b, (n, s) in out.items()}


def _log(msg: str) -> None:
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _n_calls(seconds: float, call_s: float, least: int) -> int:
    """Calls that fill ``seconds`` on a 4-core host.  A fixed count, not a
    clock: every run, and every commit, measures the same batch groups."""
    return max(least, round(seconds / call_s))


class Bench:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool, work: str,
                 shape: Shape | None = None):
        if shape is None and name not in WORKLOADS:
            raise SystemExit(f"unknown workload {name!r}; have {sorted(WORKLOADS)}")
        self.name, self.shape, self.seed = name, shape or WORKLOADS[name], seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.cfg = cfg_for(self.shape, seed)
        self.ivf = self.shape.retrieval_mode != "broadcast"
        self.calls: list[Call] = []
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.ensure_s: list[float] = []
        self.oracles: dict[int, set] = {}
        self.digests: dict[str, str] = {}
        self.world = None
        self.problems: list[str] = []
        self._n = 0

    # -- set-up ---------------------------------------------------------
    def open_session(self):
        t0 = time.perf_counter()
        spark = get_spark(cores=CORES, app_name="perfbench",
                          extra_conf=_conf(self.work, self.trace))
        t_session = time.perf_counter() - t0
        if self.world is None:   # the benchmark's own cost, never timed
            tw = time.perf_counter()
            self.world = build_world(spark, self.name, self.shape, self.seed,
                                     os.path.join(self.work, "cache"))
            self.oracles = {g: self.world.oracle(g) for g in range(len(self.world.groups))}
            dpath = os.path.join(self.world.dir, "digests.json")
            if os.path.exists(dpath):
                with open(dpath) as f:
                    self.digests = json.load(f)
            _log(f"world + oracle {time.perf_counter() - tw:.2f}s")
            # peak memory counts set-up and calls, not the world build
            gc.collect()
            _malloc_trim()
            _reset_hwm("self")
            _reset_hwm(spark._jvm.java.lang.ProcessHandle.current().pid())
        t1 = time.perf_counter()
        t_df = spark.read.parquet(self.world.transcripts)
        kb_df = spark.read.parquet(self.world.kb)
        index = None
        t_ensure = 0.0
        if self.ivf:
            index = os.path.join(self.work, f"index_{len(self.setup_s)}", "ann_index")
            shutil.rmtree(os.path.dirname(index), ignore_errors=True)
            t2 = time.perf_counter()
            # the arguments run_incremental passes, so its call only loads
            ensure_ann_index(
                composite_corpus(kb_df.select("id", "indexer", "embedding")),
                index, mode=self.shape.retrieval_mode,
            )
            t_ensure = time.perf_counter() - t2
        _log(f"set-up {len(self.setup_s)}: session {t_session:.2f}s, "
             f"read+index {time.perf_counter() - t1:.2f}s")
        self.session_s.append(t_session)
        self.ensure_s.append(t_ensure)
        self.setup_s.append(t_session + time.perf_counter() - t1)
        return spark, t_df, kb_df, index

    def _fresh_lake(self, index: str | None) -> str:
        self._n += 1
        root = os.path.join(self.work, f"lake_{self._n}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        if index is not None:
            shutil.copytree(index, os.path.join(root, "ann_index"))
        return root

    # -- calls ----------------------------------------------------------
    def warm_up(self, spark, t_df, kb_df, index) -> None:
        """``warm_calls`` untimed calls on the warm-up group: worker module
        imports and the JVM's JIT warm-up go here, not into the samples (a
        one-batch warm-up left the first samples ~30% slower)."""
        if not self.world.warm_group:
            return
        warm = t_df.filter(t_df.batch_id.isin(self.world.warm_group))
        for _ in range(self.shape.warm_calls):
            root = self._fresh_lake(index)
            run_incremental(spark, warm, kb_df, Lake(root),
                            self.cfg, retrieval_mode=self.shape.retrieval_mode)
            shutil.rmtree(root, ignore_errors=True)

    def timed_call(self, spark, t_df, kb_df, index, traced: bool) -> Call:
        g = len(self.calls) % len(self.world.groups)
        ids = self.world.groups[g]
        root = self._fresh_lake(index)
        probe = Probe(spark, tracing=traced, call=len(self.calls),
                      retrieval_mode=self.shape.retrieval_mode)
        probe.install(ids)
        lake = probe.lake(root)
        if traced:
            probe.run_span = probe.tracer.open("run_incremental", "run")
        t0 = time.time()
        try:
            run_incremental(spark, t_df.filter(t_df.batch_id.isin(ids)), kb_df, lake, self.cfg,
                            retrieval_mode=self.shape.retrieval_mode)
            error = None
        except Exception:   # a failed call is a measured outcome, not a crash
            error = traceback.format_exc()
        finally:
            wall = time.time() - t0
            probe.uninstall()
            if traced:
                probe.tracer.close(probe.run_span)
        if error is not None:
            print(error, file=sys.stderr)
            call = Call(traced, wall, 0.0, [], len(ids), len(ids), 0.0, "",
                        [f"run_incremental raised in call {len(self.calls)}"],
                        probe=probe, ids=ids)
        else:
            call = self._check(spark, lake, probe, wall, g)
        call.t0 = t0
        _log(f"call {len(self.calls)} traced={traced}: {wall:.2f}s, "
             f"{call.turns_per_s:.1f} turns/s, F1 {call.f1:.4f}")
        call.files = _lake_files(root, ids)
        shutil.rmtree(root, ignore_errors=True)
        self.calls.append(call)
        return call

    def _check(self, spark, lake: Lake, probe: Probe, wall: float, g: int) -> Call:
        ids = self.world.groups[g]
        problems = []
        got = triple_set(pq.read_table(lake.path("triples"),
                                       columns=["subj", "pred", "obj"]).to_pandas())
        want = self.oracles[g]
        score = f1(got, want)
        dg = digest(got)
        if self.shape.gate == "exact":
            ok = got == want
        else:
            ok = score >= float(self.shape.gate)
        if not ok:
            problems.append(f"oracle gate failed: F1={score:.6f} (gate {self.shape.gate})")
        # the same world must give the same triples on every call and run
        if self.digests.setdefault(str(g), dg) != dg:
            ok = False
            problems.append(f"triple digest of batch group {g} differs from an earlier call")
        done = lake.completed_batches()
        missing = [b for b in ids if b not in done]
        if missing:
            problems.append(f"batches not committed in lineage: {missing}")
        failed = len(ids) if not ok else len(missing)
        if self.shape.driver_path:
            off = [b for b, st in probe.stats.items() if st.get("n_nil", 0) > DRIVER_CLUSTER_MAX]
            if probe.tracing:
                off += [b for b in ids if b not in probe.driver_path]
            if off:
                problems.append(f"batches left the driver clustering path: {sorted(set(off))}")
        if probe.index_builds:
            problems.append(f"the timed call rebuilt the ANN index {probe.index_builds}x")
        lat = probe.commit_latencies()
        if len(lat) != len(ids):
            problems.append("commit latency missing for some batches")
        return Call(probe.tracing, wall, self.world.group_turns[g] / wall,
                    [lat[b] for b in sorted(lat)], len(ids), failed, score, dg,
                    problems, probe=probe, ids=ids)

    # -- the run --------------------------------------------------------
    def run(self) -> dict:
        spark, t_df, kb_df, index = self.open_session()
        app_id = spark.sparkContext.applicationId
        self.warm_up(spark, t_df, kb_df, index)
        _log("warm-up done")
        # trace mode alternates untraced and traced calls
        for i in range(_n_calls(self.seconds, self.shape.call_s, self.shape.calls)):
            self.timed_call(spark, t_df, kb_df, index, traced=self.trace and i % 2 == 1)
        spark.stop()
        if self.trace:
            self._fold_session(app_id, self.calls)
            self._dump_spans()
        # set-up is measured several times; these sessions only set up
        for i in range(1, SESSIONS):
            spark = self.open_session()[0]
            if i == SESSIONS - 1:
                jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
                peak = _vm_hwm_mb("self")
                _log(f"peak RSS: driver {peak:.0f} MB, JVM {_vm_hwm_mb(jvm):.0f} MB")
            spark.stop()
        _stop_jvm()
        for c in self.calls:
            self.problems += c.problems
        for p in dict.fromkeys(self.problems):
            print(f"perfbench: {self.name} seed {self.seed}: {p}", file=sys.stderr)
        if not self.problems:
            with open(os.path.join(self.world.dir, "digests.json"), "w") as f:
                json.dump(self.digests, f)
        attempted = sum(c.batches for c in self.calls)
        failed = sum(c.failed for c in self.calls)
        out = {
            "correct": not self.problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": self.layer_metrics() if self.trace else self.e2e_metrics(peak),
        }
        return out

    def e2e_metrics(self, peak_mb: float) -> dict:
        lat = [x for c in self.calls for x in c.latencies]
        return {
            "turns_per_s": {"value": median(c.turns_per_s for c in self.calls), "unit": "turns/s"},
            "batch_commit_p50_s": {"value": median(lat), "unit": "s"},
            "setup_s": {"value": median(self.setup_s), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
            "oracle_f1": {"value": min(c.f1 for c in self.calls), "unit": "ratio"},
        }

    # -- traced calls -----------------------------------------------------
    def _fold_session(self, app_id: str, calls: list[Call]) -> None:
        jobs, stages = read_event_log(find_event_log(os.path.join(self.work, "eventlog"), app_id))
        folds = fold(jobs, stages)
        for c in calls:
            if c.traced and c.latencies:   # a call that raised has no spans to fold
                c.layers = self._call_layers(c, jobs, folds)

    def _dump_spans(self) -> None:
        """Write the traced calls' spans (one JSON object a line)."""
        path = os.path.join(self.work, "trace", f"{self.name}_s{self.seed}_spans.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for c in self.calls:
                for sp in (c.probe.tracer.spans if c.traced else []):
                    f.write(json.dumps({"call": c.probe.call, **sp.__dict__}) + "\n")
        _log(f"spans written to {path}")

    def _call_layers(self, c: Call, jobs, folds) -> dict:
        p = c.probe
        cid = p.call
        ids = c.ids
        spans = p.tracer.spans
        selfs = self_times(spans)
        by = {}
        for s in spans:
            by.setdefault((s.name, s.trace), []).append(s)

        def dur(name, b):
            return sum(s.dur for s in by.get((name, str(b)), []))

        def fsum(phase, b, attr):
            f = folds.get((phase, cid, b))
            return getattr(f, attr) if f is not None else 0

        per = {}
        for b in ids:
            root = by[("batch", str(b))][0]
            share = selfs[root.sid] / root.dur if root.dur > 0 else 0.0
            if share > UNATTRIBUTED_MAX:
                c.problems.append(
                    f"batch {b}: {share:.1%} of its wall is in no child span "
                    f"(bar {UNATTRIBUTED_MAX:.0%})")
            fused_tasks = folds.get(("fused", cid, b))
            tasks = fused_tasks.task_s if fused_tasks is not None else []
            per[b] = {
                "unattributed": share,
                "run_batch_s": dur("pipeline.run_batch", b),
                "rw_delta_wait_s": dur("pipeline.rw_delta_wait", b),
                "drain_wait_s": dur("pipeline.drain_wait", b),
                "write_s": dur("pipeline.write", b),
                "fused_wall": dur("fused", b),
                "fused_exec": fsum("fused", b, "run_s"),
                "fused_skew": (max(tasks) / statistics.median(tasks))
                if tasks and statistics.median(tasks) > 0 else 1.0,
                "cl_wall": dur("clustering", b),
                "cl_exec": fsum("clustering", b, "run_s"),
                "cl_shuffle": fsum("clustering", b, "shuffle_mb"),
                "cl_jobs": fsum("clustering", b, "jobs"),
                "search_exec": fsum("ann_index.search", b, "run_s"),
                "search_jobs": fsum("ann_index.search", b, "jobs"),
                "search_shuffle": fsum("ann_index.search", b, "shuffle_mb"),
                "persist_delta_s": dur("ann_index.persist_delta", b),
                "jobs": sum(f.jobs for (ph, cc, bb), f in folds.items() if cc == cid and bb == b),
                "nil": p.stats.get(b, {}).get("n_nil", 0),
                "files": c.files.get(b, (0, 0))[0],
                "bytes": c.files.get(b, (0, 0))[1],
            }
        mine = [f for (ph, cc, bb), f in folds.items() if cc == cid]
        in_call = [j for j in jobs if c.t0 <= j.submitted <= c.t0 + c.wall]
        task_s = sum(sum(f.task_s) for f in mine)

        def med(k):
            return median(per[b][k] for b in ids)

        return {
            "retrieval.kb_shards_s": sum(s.dur for s in spans if s.name == "retrieval.kb_shards"),
            "fused.wall_s": med("fused_wall"),
            "fused.executor_s": med("fused_exec"),
            "fused.task_skew": med("fused_skew"),
            "clustering.wall_s": med("cl_wall"),
            "clustering.executor_s": med("cl_exec"),
            "clustering.shuffle_mb": med("cl_shuffle"),
            "clustering.jobs": med("cl_jobs"),
            "clustering.nil_rows": med("nil"),
            "clustering.driver_path_share": len(p.driver_path) / len(ids),
            "pipeline.run_batch_s": med("run_batch_s"),
            "pipeline.rw_delta_wait_s": med("rw_delta_wait_s"),
            "pipeline.drain_wait_s": med("drain_wait_s"),
            "pipeline.write_s": med("write_s"),
            "pipeline.files_written": med("files"),
            "pipeline.bytes_written": med("bytes"),
            "pipeline.lake_read_s": sum(s.dur for s in spans if s.name == "pipeline.lake_read") / len(ids),
            "pipeline.jobs_per_batch": med("jobs"),
            "pipeline.unattributed_share": max(per[b]["unattributed"] for b in ids),
            "ann_index.search_executor_s": med("search_exec"),
            "ann_index.search_jobs_per_batch": med("search_jobs"),
            "ann_index.search_shuffle_mb": med("search_shuffle"),
            "ann_index.persist_delta_s": med("persist_delta_s"),
            "spark.slot_busy_ratio": task_s / (CORES * c.wall),
            "spark.executor_cpu_s": sum(f.cpu_s for f in mine),
            "spark.gc_s": sum(f.gc_s for f in mine),
            "spark.spill_mb": sum(f.spill_mb for f in mine),
            "spark.shuffle_write_mb": sum(f.shuffle_write_mb for f in mine),
            "spark.result_mb": sum(f.result_mb for f in mine),
            "spark.jobs": len(in_call),
            "spark.tasks": sum(f.tasks for f in mine),
            "spark.unlabelled_jobs": sum(1 for j in in_call if j.label is None),
        }

    def layer_metrics(self) -> dict:
        traced = [c for c in self.calls if c.layers]
        plain = [c for c in self.calls if not c.traced]
        keys = traced[0].layers.keys() if traced else []
        out = {k: median(c.layers[k] for c in traced) for k in keys}
        out["session.start_s"] = median(self.session_s)
        out["ann_index.ensure_s"] = median(self.ensure_s)
        base = median(c.turns_per_s for c in plain)
        out["trace.turns_per_s_ratio"] = (
            median(c.turns_per_s for c in traced) / base if base else 0.0)
        return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in sorted(out.items())}


LAYER_UNITS = {
    "session.start_s": "s",
    "retrieval.kb_shards_s": "s",
    "fused.wall_s": "s", "fused.executor_s": "s", "fused.task_skew": "ratio",
    "clustering.wall_s": "s", "clustering.executor_s": "s", "clustering.shuffle_mb": "MB",
    "clustering.jobs": "count", "clustering.nil_rows": "count",
    "clustering.driver_path_share": "ratio",
    "pipeline.run_batch_s": "s", "pipeline.rw_delta_wait_s": "s",
    "pipeline.drain_wait_s": "s", "pipeline.write_s": "s",
    "pipeline.files_written": "count", "pipeline.bytes_written": "bytes",
    "pipeline.lake_read_s": "s", "pipeline.jobs_per_batch": "count",
    "pipeline.unattributed_share": "ratio",
    "ann_index.ensure_s": "s", "ann_index.search_executor_s": "s",
    "ann_index.search_jobs_per_batch": "count", "ann_index.search_shuffle_mb": "MB",
    "ann_index.persist_delta_s": "s",
    "spark.slot_busy_ratio": "ratio", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.spill_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.result_mb": "MB",
    "spark.jobs": "count", "spark.tasks": "count", "spark.unlabelled_jobs": "count",
    "trace.turns_per_s_ratio": "ratio",
}


def settings(trace: bool) -> dict:
    """How the run was fitted to the host (program defaults are untouched)."""
    return {
        "cores": CORES,
        "blas_threads": int(os.environ["OPENBLAS_NUM_THREADS"]),  # set by run.py
        "spark.driver.memory": DRIVER_MEMORY,
        "event_log": "uncompressed, single file" if trace else "off",
    }


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    return Bench(name, seed, seconds, trace, work).run()
