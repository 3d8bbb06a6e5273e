"""olake-spark benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload {cdc,curate} --seed N \
        --seconds S --trace {0,1} [--scale F]

Run from the repository root: the engine is imported from ``./olake_spark``
and every file the run writes lives under ``./.perfbench_work`` (removed on
exit). Spark runs at ``local[$(nproc)]`` with a 4 GB driver heap; the second
to last stdout line records the pinned environment, set-up split and raw
samples.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of
``layers.py``, the absolute latencies of the run's untraced cycles and
``trace.overhead_frac``: in a traced run the measured cycles alternate
traced/untraced, and the overhead is the ratio of their median
main-op-over-floor ratios minus one.

The host is a share of a machine whose speed drifts by tens of percent
between runs, so the timed end-to-end metrics are ratios to a floor: every
main op and read is paired with a bare-Spark job of fixed size, with no
engine code in it, timed right after it (between ops within a curate pass),
and the metric is the median of the pairs' ratios. A faster engine lowers
the ratio; a faster or slower host moves both sides. End-to-end metrics mean
the same on every workload; the workload's own op mix (``workloads.py``)
fills them:

================= ============================ ==============================
metric            cdc                          curate
================= ============================ ==============================
main_over_floor   one merge_into batch over a  one pass of the six ops over
                  bare-Spark anti-join + union three floor jobs (2-shingle
                  + parquet write of the base  pandas UDF, word-count
                  rows                         shuffle) run between its ops
read_over_floor   one point lookup over a      reading back a pass's six
                  filtered bare parquet read   outputs over six bare reads
                                               of the corpus file
write_amp         merge bytes written per      output bytes per corpus byte
                  change-row byte
================= ============================ ==============================

``setup_s`` is session start + warm-up + the median of the run's input
builds. The peak RSS of the Python driver plus the JVM is a per-layer
metric (``driver.peak_rss_mb``): heap growth makes it spread ~25% between
identical runs. Every process the run starts (the JVM, Python workers) is
stopped and waited for before it exits. ``perfbench/selftest.py`` checks
the harness at tiny sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import pandas as pd

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("cdc", "curate")


def pin_environment(cores: int, work: str) -> dict:
    """Environment every Python worker and the JVM inherit. Workers need
    the checkout on PYTHONPATH to unpickle engine UDFs; Spark scratch and
    table data stay inside the checkout."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": str(cores),
        "OLAKE_SPARK_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        # 4 GB heap: inputs are a few MB and the host is shared; the
        # engine default (16 GB) over-commits a 15 GB host
        "OLAKE_SPARK_DRIVER_MEM": "4g",
        "OLAKE_SPARK_UI": "0",
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


def start_spark(cores: int):
    from pyspark.sql import functions as F

    from olake_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1000).count()

    # spawn every Python worker and initialise Arrow before any timer
    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(cores * 4, numPartitions=cores).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    return spark


def descendants() -> list[tuple[int, str]]:
    """(pid, start time) of every live process below this one."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append((int(d), fields[19]))
    out, todo = [], [os.getpid()]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid[0])
    return out


def alive(pid: int, start: str) -> bool:
    """The process is still running (not exited, not a zombie, pid not reused)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    fields = stat[stat.rindex(")") + 2:].split()
    return fields[0] != "Z" and fields[19] == start


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and every Python worker and wait for
    each: on its own the JVM only exits some time after this process does,
    when it sees its stdin close."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    tree = descendants()
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    except Exception:  # py4j link already broken, e.g. by a signal mid-call
        pass
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait()
        for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
            left = [p for p in tree if alive(*p)]
            for pid, _ in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + wait_s
            while left and time.monotonic() < deadline:
                time.sleep(0.05)
                left = [p for p in left if alive(*p)]


def rss_peak_mb(spark) -> float:
    """VmHWM of the Python driver plus the JVM."""
    pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs))


class Run:
    """What a workload reports back: samples, counters and checks."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 scale: float, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.tracer = tracer
        self.builds: list[float] = []  # input-build seconds (setup)
        # (s, rows, traced, floor s) and (s, floor s, traced): every main op
        # and read is paired with a bare-Spark floor timed right after it
        self.main: list[tuple[float, float, bool, float]] = []
        self.reads: list[tuple[float, float, bool]] = []
        self.writes: list[tuple[float, float]] = []  # (bytes written, input bytes)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layers: dict[str, float] = {}
        self.merges: list = []  # (candidate files, touched files, phases)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)

    def traced(self, cycle: int) -> bool:
        """Traced runs alternate traced and untraced measured cycles."""
        on = self.tracer is not None and cycle % 2 == 0
        if self.tracer is not None:
            self.tracer.active = on
        return on

    def op(self, name: str):
        return self.tracer.op(name) if self.tracer is not None else nullcontext()


def end_to_end(run: Run, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "main_over_floor": (median(s / f for s, _, _, f in run.main), "ratio"),
        "read_over_floor": (median(s / f for s, f, _ in run.reads), "ratio"),
        "write_amp": (sum(w for w, _ in run.writes) / sum(b for _, b in run.writes),
                      "ratio"),
    }


def absolute(run: Run) -> dict:
    """Absolute latencies of the untraced cycles, with their floors."""
    main = [(s, r, f) for s, r, t, f in run.main if not t]
    reads = [(s, f) for s, f, t in run.reads if not t]
    return {
        "main.p50_s": (median(s for s, _, _ in main), "s"),
        "main.rows_per_s": (median(r / s for s, r, _ in main), "1/s"),
        "main.floor_p50_s": (median(f for _, _, f in main), "s"),
        "read.p50_s": (median(s for s, _ in reads), "s"),
        "read.floor_p50_s": (median(f for _, f in reads), "s"),
    }


def per_layer(run: Run) -> dict:
    from layers import EXTRAS

    def unit(name: str) -> str:
        if name.endswith("_mb"):
            return "MB"
        return "s" if name.endswith("_s") else "count"

    out = {k: (v, unit(k)) for k, v in run.tracer.layer_metrics().items()}
    out.update((k, (v, unit(k))) for k, v in run.tracer.op_totals().items())
    unknown = set(run.layers) - set(EXTRAS)
    assert not unknown, f"per-layer metrics missing from EXTRAS: {unknown}"
    out.update((k, (run.layers.get(k, 0.0), u)) for k, u in EXTRAS.items())
    out.update(absolute(run))
    traced = [s / f for s, _, t, f in run.main if t]
    plain = [s / f for s, _, t, f in run.main if not t]
    overhead = median(traced) / median(plain) - 1.0
    out["trace.overhead_frac"] = (overhead, "ratio")
    out["driver.peak_rss_mb"] = (rss_peak_mb(run.spark), "MB")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the self-test uses < 1)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "olake_spark", "__init__.py")):
        print("perfbench: run from the repository root (./olake_spark "
              "not found)", file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(cores, work)
    sys.path.insert(0, HERE)
    import workloads

    # a SIGTERM (e.g. a timeout) still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        spark = start_spark(cores)
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
            tracer.install()
        run = Run(spark, work, args.seed, args.seconds, args.scale, tracer)
        session_s = time.perf_counter() - T_START
        wl = workloads.WORKLOADS[args.workload](run)
        wl.setup()
        setup_s = session_s + wl.warmup_s + median(run.builds)
        t_measure = time.perf_counter()
        wl.measure()
        measure_s = time.perf_counter() - t_measure
        wl.finish()
        if tracer is not None:
            tracer.active = False
            metrics = per_layer(run)
        else:
            metrics = end_to_end(run, setup_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores, "env": env,
        "session_s": round(session_s, 3), "warmup_s": round(wl.warmup_s, 3),
        "builds_s": [round(b, 3) for b in run.builds],
        "measure_s": round(measure_s, 3), "cycles": len(run.main),
        "total_s": round(time.perf_counter() - T_START, 3), "notes": run.notes,
        "main_s": [round(s, 3) for s, _, _, _ in run.main],
        "main_floor_s": [round(f, 3) for _, _, _, f in run.main],
        "read_s": [round(s, 3) for s, _, _ in run.reads],
        "read_floor_s": [round(f, 3) for _, f, _ in run.reads],
        "merges": run.merges,
    }))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
