"""Repository benchmark: closed-loop workloads against the unmodified
``autoprepad_spark`` library, one process and one client each, on at
most ``local[4]``.

    python3 perfbench/run.py --workload suite_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (setup_s, rows_per_s, tokens_per_s,
batch_p50_ms, batch_tail_ms, peak_rss_mb); with ``--trace 1`` they are the
per-layer ``<layer>.<field>`` counters and ``trace.overhead_frac``. The
line before it is a context object (input fingerprint, fixture
generation time, host calibration, sample counts, failed_frac).

Everything the run writes goes under ``.perfbench/`` in the repository
root: memoized fixtures, per-run scratch (removed at exit), span files.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


T_PROCESS_START = time.perf_counter() - _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import fixtures  # noqa: E402
import oracles  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import MAX_OPS, WORKLOADS, Op  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = min(4, len(os.sched_getaffinity(0)))
#: timed operations per run, at least; more run while --seconds lasts
MIN_OPS = 1


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc. Each process counts
    its proportional set size, so pages shared between forked Python
    workers are not counted once per worker."""

    PERIOD_S = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss_bytes(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, ValueError):
            pass
        return 0

    def _tree_bytes(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            total += self._pss_bytes(pid)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_bytes())
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between
    two ``cpu_times()`` readings: wall-time metrics slow down with it."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(sum(delta), 1)


def tail(values: list[float]) -> float:
    """Highest percentile with at least ten samples beyond it; the
    maximum when there are fewer than eleven samples."""
    s = sorted(values)
    return s[len(s) - 11] if len(s) > 10 else s[-1]


def prepare_env(run_dir: str) -> None:
    """Keep Spark, its workers and temp files inside the checkout, and
    let Spark's Python workers import the library from the root."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    # no JVM (driver or spark-submit's launcher) writes hsperfdata or
    # temp files outside the checkout
    jvm_local = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_JAVA_OPTS"] = f"-XX:+UseParallelGC {jvm_local}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_local


def start_spark(run_dir: str):
    from autoprepad_spark.session import get_spark

    return get_spark("perfbench", cores=CORES, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def import_library() -> None:
    """Import the library under test from this checkout, or exit non-zero."""
    sys.path.insert(0, ROOT)
    try:
        import autoprepad_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import autoprepad_spark from {ROOT}: {e}")
    if not os.path.abspath(autoprepad_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: autoprepad_spark is not the checkout's copy: "
                 f"{autoprepad_spark.__file__}")


def ensure_fixture(workload: str, seed: int) -> tuple[str, dict, float, bool]:
    """(path, meta, seconds spent generating, was cached)."""
    size = WORKLOADS[workload].size
    path = fixtures.fixture_dir(WORK, workload, seed, size)
    meta = fixtures.read_meta(path)
    if meta is not None:
        return path, meta, 0.0, True
    t0 = time.perf_counter()
    meta = fixtures.generate(workload, seed, size, path)
    return path, meta, time.perf_counter() - t0, False


def run_op(w, i: int) -> Op:
    try:
        return w.op(i)
    except Exception:  # a failed operation is counted, not fatal
        traceback.print_exc()
        return Op(i, w.op_dir(i), error=traceback.format_exc(limit=1))
    finally:
        w.spark.catalog.clearCache()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import_library()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    os.makedirs(run_dir)
    try:
        fixture, meta, gen_s, cached = ensure_fixture(args.workload, args.seed)
        prepare_env(run_dir)
        with RssSampler() as rss:
            spark = start_spark(run_dir)
            try:
                out = measure(spark, args, WORKLOADS[args.workload], fixture,
                              meta, run_dir, tag, gen_s, rss)
            finally:
                stop_spark(spark)
        out["context"].update(fixture_cached=cached, fixture_gen_s=gen_s,
                              generator_s=meta["gen_s"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ctx = out.pop("context")
    print(json.dumps({"context": ctx}))
    print(json.dumps(out))
    return 0


def measure(spark, args, cls, fixture, meta, run_dir, tag, gen_s, rss) -> dict:
    """Set up, run the timed operations, check every output; returns the
    result object plus a ``context`` entry."""
    tracer = Tracer(spark, tag, T_PROCESS_START) if args.trace else None
    w = cls(spark, fixture, meta, os.path.join(run_dir, "w"), tracer)
    t0 = time.perf_counter()
    w.load()
    load_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    w.warm_up()
    spark.catalog.clearCache()
    warm_s = time.perf_counter() - t0

    ops, overhead = [], None
    cpu0 = cpu_times()
    t_measure = time.perf_counter()
    if tracer is None:
        while len(ops) < MAX_OPS and (
                len(ops) < MIN_OPS
                or time.perf_counter() - t_measure < args.seconds):
            ops.append(run_op(w, len(ops)))
    else:
        # one traced operation, whose cost of tracing is the tracer's own
        # bookkeeping, then the standalone layer calls on warm paths
        spent, t0 = tracer.bookkeeping_s, time.perf_counter()
        ops.append(run_op(w, 0))
        overhead = (tracer.bookkeeping_s - spent) / (time.perf_counter() - t0)
        w.layers()
    measure_s = time.perf_counter() - t_measure
    steal = steal_frac(cpu0, cpu_times())
    # time to the first timed operation, fixture generation excluded
    setup_s = (ops[0].timed_from or t_measure) - T_PROCESS_START - gen_s
    peak_rss_mb = rss.peak_bytes / float(1 << 20)

    import bench

    calibration_s = bench._host_calibration()
    con = oracles.connect(os.path.join(run_dir, "tmp"))
    w.expect(con)
    attempted = failed = 0
    good: list[tuple[int, int, float]] = []
    for op in ops:
        if op.error is None:
            try:
                op.bad = w.check(con, op)
            except Exception as e:  # an unreadable output is a failed check
                traceback.print_exc()
                op.error = f"check failed: {e}"
        n = max(len(op.samples), w.units())
        attempted += n
        if op.error is not None:
            failed += n
            continue
        failed += sum(1 for b in op.bad if b)
        good += [s for s, b in zip(op.samples[op.warm:], op.bad[op.warm:]) if not b]
        w.recycle(op.index)
    if tracer is not None:
        checked, mismatched = w.check_layers(con)
        attempted += checked
        failed += mismatched
    fingerprint = oracles.fingerprint(con, w.input_glob())
    con.close()

    if tracer is not None:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{tag}.json"))
        metrics = {k: (v, _unit(k)) for k, v in tracer.layer_metrics().items()}
        metrics["trace.overhead_frac"] = (overhead, "ratio")
    else:
        lat_ms = [s * 1e3 for _, _, s in good] or [0.0]
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (_median([r / s for r, _, s in good]), "1/s"),
            "tokens_per_s": (_median([t / s for _, t, s in good]), "1/s"),
            "batch_p50_ms": (statistics.median(lat_ms), "ms"),
            "batch_tail_ms": (tail(lat_ms), "ms"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    for name, (value, unit) in metrics.items():
        print(f"{name:36s} {value:16.4f} {unit}")
    print(f"{'failed_frac':36s} {failed / max(attempted, 1):16.4f} ratio "
          f"({failed} of {attempted}; not a gated metric)")
    context = {
        "workload": cls.name, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "rows": meta["rows"], "tokens": meta["tokens"],
        "fingerprint": fingerprint, "samples": len(good),
        "failed_frac": failed / max(attempted, 1),
        "setup_load_s": load_s, "setup_warm_up_s": warm_s,
        "measure_s": measure_s, "op_wall_s": [op.wall_s for op in ops],
        "sample_s": [[t for _, _, t in op.samples] for op in ops],
        "errors": [op.error for op in ops if op.error],
        "host_calibration_s": calibration_s,
        "steal_frac": steal,
    }
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "context": context,
    }


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _unit(name: str) -> str:
    field = name.split(".", 1)[1]
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    if field.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
