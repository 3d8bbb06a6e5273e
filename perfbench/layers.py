"""Per-layer tracing for the traced benchmark run.

Two sources, neither of which edits the engine:

* ``Tracer.install`` wraps public functions and methods of ``olake_spark``
  modules in place (every module namespace that bound the function by
  name gets the wrapper), accumulating calls and inclusive wall seconds
  per layer. Wrappers pass straight through while ``Tracer.active`` is
  False, so one process can time traced and untraced cycles.
* ``Tracer.op`` sets a Spark job group around one benchmark op and, on
  exit, reads the group's jobs and stages from Spark's status store
  (``SparkContext.statusStore``; works with the UI disabled, adds no
  Spark jobs): tasks, executor run/CPU/GC time, input/output/shuffle/
  spill bytes, Python-UDF stage time, and the driver gap (op wall time
  minus the union of its job intervals).
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1e6
PYTHON_OPERATOR = re.compile(r'label="[^"]*(InArrow|InPandas|EvalPython)')

# (module, attribute, layer name); "Class.method" patches a class attribute
WRAPPED = [
    ("olake_spark.operators.compaction", "compact", "compaction.compact"),
    ("olake_spark.operators.compaction", "plan_groups", "compaction.plan_groups"),
    ("olake_spark.operators.clustering", "cluster", "clustering.cluster"),
    (
        "olake_spark.operators.clustering",
        "default_cluster_specs",
        "clustering.default_cluster_specs",
    ),
    ("olake_spark.table.format", "Table.write_data_files", "format.write_data_files"),
    ("olake_spark.table.format", "Table.scan", "format.scan"),
    ("olake_spark.table.format", "Table.commit", "format.commit"),
    ("olake_spark.table.stats", "collect_file_stats", "stats.collect_file_stats"),
    ("olake_spark.operators.merge", "merge_into", "merge.merge_into"),
    ("olake_spark.table.manifest_df", "scan_planned", "manifest_df.scan_planned"),
    (
        "olake_spark.table.manifest_df",
        "manifest_entries_df",
        "manifest_df.manifest_entries_df",
    ),
    ("olake_spark.operators.deletes", "delete_where", "deletes.delete_where"),
    (
        "olake_spark.operators.deletes",
        "materialize_deletes",
        "deletes.materialize_deletes",
    ),
    ("olake_spark.operators.expire", "expire_snapshots", "expire.expire_snapshots"),
    (
        "olake_spark.operators.manifests",
        "rewrite_manifests",
        "manifests.rewrite_manifests",
    ),
    ("olake_spark.plans.ledger", "Ledger.mark_done", "ledger.mark_done"),
    ("olake_spark.operators.text", "fan_out_small_scan", "text.fan_out_small_scan"),
]
IO_METHODS = ("get_text", "put_text", "create_json", "list", "delete")
COUNTERS = (
    "stats.collect_file_stats.files",
    "text.fan_out_small_scan.fired",
    "merge.prepare_s",
    "merge.prune_s",
    "merge.discover_s",
    "merge.write_s",
    "merge.commit_s",
    "merge.candidate_files",
    "merge.touched_files",
    "expire.orphans_deleted",
    "format.manifest_shards",
    "format.commit_conflicts",
)

CURATE_OPS = (
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_near_dup_pairs",
    "text.c4_page_filter",
    "dedup.drop_repeated_spans",
    "text.pii_scrub",
    "curation.curate_corpus",
)
# measured by the workloads themselves (workloads.py); 0 where the
# workload does not reach the layer
EXTRAS = {
    "rewrite.compact_mb_per_s": "MB/s",
    "rewrite.cluster_mb_per_s": "MB/s",
    "scan.full_mb_per_s": "MB/s",
    "scan.files_read_frac": "ratio",
    "scan.lookup_files_read_frac": "ratio",
    "table.space_amp": "ratio",
    "cdc.range_scan_s": "s",
    "cdc.maintenance_s": "s",
    "merge.max_s": "s",
    "merge.touched_over_candidates": "ratio",
    "floor.read_noop_s": "s",
    "floor.read_write_s": "s",
    "floor.shuffle_s": "s",
    "compaction.over_copy_floor": "ratio",
    "clustering.over_shuffle_floor": "ratio",
    **{f"{op}.{part}_s": "s" for op in CURATE_OPS
       for part in ("build", "plan", "exec")},
}

STAGE_FIELDS = (
    "spark.jobs",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.input_mb",
    "spark.output_mb",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.python_stage_s",
    "op.driver_gap_s",
)


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt):
    return jopt.get().getTime() if jopt.isDefined() else None


class Tracer:
    """Layer timings plus per-op Spark status-store metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.ops: dict[str, dict[str, float]] = {}
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._groups = 0

    # ------------------------------------------------------------ wrapping
    def install(self) -> None:
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), layer))
            else:
                self._rebind(getattr(mod, attr), self._wrap(getattr(mod, attr), layer))
        from olake_spark.table.io import LocalFileIO

        for meth in IO_METHODS:
            orig = getattr(LocalFileIO, meth)
            setattr(LocalFileIO, meth, self._wrap(orig, f"io.{meth}"))

    @staticmethod
    def _rebind(orig, wrapper) -> None:
        # `from x import f` copies the binding: patch every namespace
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("olake_spark"):
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapper)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            except Exception as e:
                if type(e).__name__ == "CommitConflict":
                    tracer.counts["format.commit_conflicts"] += 1
                raise
            finally:
                tracer.calls[layer] += 1
                tracer.secs[layer] += time.perf_counter() - t0
            tracer._observe(layer, args, kwargs, out)
            return out

        return wrapper

    def _observe(self, layer, args, kwargs, out) -> None:
        c = self.counts
        if layer == "stats.collect_file_stats":
            paths = args[1] if len(args) > 1 else kwargs.get("paths", [])
            c["stats.collect_file_stats.files"] += len(paths)
        elif layer == "text.fan_out_small_scan":
            if out is not (args[0] if args else kwargs.get("df")):
                c["text.fan_out_small_scan.fired"] += 1
        elif layer == "merge.merge_into":
            for k, v in out.details.get("phase_seconds", {}).items():
                c[f"merge.{k}"] += v
            c["merge.candidate_files"] += out.candidate_files
            c["merge.touched_files"] += out.touched_files
        elif layer == "expire.expire_snapshots":
            c["expire.orphans_deleted"] += out.deleted_data_files
        elif layer == "format.scan":
            table = args[0]
            snap = table.snapshot(kwargs.get("snapshot_id"))
            if snap is not None:
                c["format.manifest_shards"] += len(snap.manifests)
                c["format.manifest_shards.samples"] += 1

    # ----------------------------------------------------------- op groups
    @contextmanager
    def op(self, name: str):
        """Job group around one op; status-store metrics on exit."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"perfbench:{name}:{self._groups}"
        sc.setJobGroup(group, f"perfbench {name}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._account(name, group, t0, t1)

    def _account(self, name, group, t0, t1) -> None:
        m = self.ops.setdefault(name, defaultdict(float))
        m["wall_s"] += t1 - t0
        m["calls"] += 1
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)
        intervals = []
        for jid in ids:
            try:
                job = self._store.job(jid)
            except Exception:  # evicted from the store
                continue
            m["spark.jobs"] += 1
            s, e = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if s is not None and e is not None:
                intervals.append((s / 1e3, e / 1e3))
            for sid in _seq(job.stageIds()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                run_s = st.executorRunTime() / 1e3
                m["spark.tasks"] += st.numCompleteTasks()
                m["spark.executor_run_s"] += run_s
                m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["spark.gc_s"] += st.jvmGcTime() / 1e3
                m["spark.input_mb"] += st.inputBytes() / MB
                m["spark.output_mb"] += st.outputBytes() / MB
                m["spark.shuffle_read_mb"] += (
                    st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
                ) / MB
                m["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                m["spark.spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / MB
                if self._python_stage(sid):
                    m["spark.python_stage_s"] += run_s
        m["op.driver_gap_s"] += max(0.0, (t1 - t0) - _union(intervals, t0, t1))

    def _python_stage(self, sid: int) -> bool:
        """Does the stage's RDD operation graph hold a Python/Arrow UDF
        operator (MapInArrow, MapInPandas, ArrowEvalPython, ...)?"""
        graph = self._store.operationGraphForStage(sid)
        dot = self.spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
        return PYTHON_OPERATOR.search(dot) is not None

    # ------------------------------------------------------------- results
    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for _, _, layer in WRAPPED:
            out[f"{layer}_s"] = self.secs.get(layer, 0.0)
            out[f"{layer}.calls"] = float(self.calls.get(layer, 0))
        for meth in IO_METHODS:
            out[f"io.{meth}_s"] = self.secs.get(f"io.{meth}", 0.0)
            out[f"io.{meth}.calls"] = float(self.calls.get(f"io.{meth}", 0))
        for k in COUNTERS:
            out[k] = self.counts.get(k, 0.0)
        # mean shard count per traced scan: the planning regime it saw
        out["format.manifest_shards"] /= max(
            self.counts.get("format.manifest_shards.samples", 0.0), 1.0
        )
        return out

    def op_totals(self) -> dict[str, float]:
        tot: dict[str, float] = {k: 0.0 for k in STAGE_FIELDS}
        for m in self.ops.values():
            for k in STAGE_FIELDS:
                tot[k] += m.get(k, 0.0)
        return tot


def _union(intervals, lo, hi) -> float:
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total
