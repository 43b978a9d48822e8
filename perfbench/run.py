"""Seeded closed-loop benchmark for ``druid_hadoop_utils_spark``.

    python3 perfbench/run.py --workload olap_ingest --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. One client issues one operation at a
time and waits for it (closed loop) on ``local[3]``. The workload's
inputs are generated from ``--seed``; every output is checked. The last
line of stdout is one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing
off. ``--trace 1`` is the separate traced run: after the same warm-up
as a measured run it runs one op sequence traced, then again untraced
on a fresh set-up, checks that the traced outputs hash-equal the
untraced ones, and reports the per-layer metrics (see ``tracing.py``)
and the tracing overhead. The line
before the last is a JSON ``detail`` record: per-class latencies with
sample counts, input fingerprint, contamination and failed checks.

Everything the run writes (tables, Spark scratch, temp files) lives
under ``.perfbench_work/`` in the checkout and is removed at exit; the
traced run also leaves its span dump under ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

from tracing import NULL_TRACER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_ingest", "corpus_dedup")
#: set-up runs per measured run; ``setup_s`` uses their median
SETUP_REPEATS = 3
#: Spark task slots. One core fewer than a 4-core box has: the driver,
#: the JVM's own threads and the Python workers need the fourth, and on
#: ``local[4]`` runs drew up to half a core of hypervisor steal and were
#: both slower and less steady (see the README)
CORES = 3
#: the JVM heap, initial and maximum
HEAP = "2g"
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_ok_ratio": "ratio",
    "ops_per_s": "1/s",
}


def _confine(work: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and pin the engine to ``local[3]`` before pyspark loads."""
    from tracing import RETAIN_CONFS

    confs = dict(RETAIN_CONFS) if trace else {}
    confs["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
            # -Xms at the maximum: a heap that grows on the GC's timing
            # makes the JVM's peak RSS vary by a third between runs
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"),
            *(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()),
            "pyspark-shell",
        ]),
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


# --------------------------------------------------------- process tree


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (driver, JVM, Python workers)."""
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid not in seen:
            seen.append(pid)
            stack.extend(_children(pid))
    return seen


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of each live process in the tree, in MB,
    summed by kind: this driver, the JVM, and the Python workers."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in tree_pids(me):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(line.split()[1]) for line in f
                          if line.startswith("VmHWM:"))
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, StopIteration):
            continue   # raced with process exit
        kind = "driver" if pid == me else ("jvm" if comm == "java" else "workers")
        out[kind] += kb / 1024.0
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark, close the JVM's stdin (the gateway exits on EOF) and
    wait until the JVM and every Python worker it forked have ended."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# --------------------------------------------------------------- runner


class Result:
    """Latency samples per op class, failures and check messages."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.peak_rss_mb = 0.0
        self.peak_rss_parts: dict[str, float] = {}

    def record(self, cls: str, seconds: float | None, error: str | None) -> None:
        """``seconds`` is None when the op raised; an op whose run
        completed keeps its latency even if its output check failed."""
        self.attempted += 1
        if seconds is not None:
            self.samples.setdefault(cls, []).append(seconds)
        if error is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(error)
        parts = tree_peak_rss_mb()
        if sum(parts.values()) > self.peak_rss_mb:
            self.peak_rss_mb, self.peak_rss_parts = sum(parts.values()), parts

    def all_samples(self) -> list[float]:
        return [s for v in self.samples.values() for s in v]


def run_op(op, result: Result, tracer, digests: list | None = None) -> None:
    """Time one op (the timed region ends when its action returns), then
    run its check and, in traced runs, its output digest — both untimed."""
    try:
        if op.before:
            op.before()
        with tracer.root(op.name, op.cls):
            t0 = time.perf_counter()
            out = op.run()
            dt = time.perf_counter() - t0
    except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
        result.record(op.cls, None, f"{op.name}: {type(e).__name__}: {e}"[:400])
        if digests is not None:
            digests.append(f"error:{op.name}")
        return
    error = None
    try:
        error = op.check(out) if op.check else None
    except Exception as e:  # noqa: BLE001
        error = f"{type(e).__name__}: {e}"
    if error:
        error = f"{op.name}: {error}"[:400]
    if digests is not None:
        digests.append(op.digest(out) if op.digest else op.name)
    result.record(op.cls, dt, error)


def measure(workload, result: Result, tracer, seconds: float,
            max_ops: int | None = None, digests: list | None = None) -> int:
    """Closed loop: run whole batches until ``seconds`` elapse (or
    ``max_ops`` ops ran), then the workload's closing ops. Returns the
    number of ops run."""
    n = 0
    deadline = time.perf_counter() + seconds
    for batch in workload.batches():
        if max_ops is None and time.perf_counter() >= deadline and n:
            break
        if max_ops is not None and n >= max_ops:
            break
        for op in batch:
            run_op(op, result, tracer, digests)
            n += 1
    for op in workload.closing_ops():
        run_op(op, result, tracer, digests)
        n += 1
    for error in workload.final_checks():
        result.attempted += 1
        result.failed += 1
        result.errors.append(error)
    return n


def warm(workload, result: Result) -> None:
    """Untimed warm-up ops (codegen, Python workers); their checks count."""
    latencies = Result()
    for op in workload.warm_ops():
        run_op(op, latencies, NULL_TRACER)
    result.attempted += latencies.attempted
    result.failed += latencies.failed
    result.errors += latencies.errors
    result.peak_rss_mb = latencies.peak_rss_mb
    result.peak_rss_parts = latencies.peak_rss_parts


def _load_workload(name: str):
    import importlib

    module, cls = {"olap_ingest": ("olap_ingest", "OlapIngest"),
                   "corpus_dedup": ("corpus", "CorpusDedup")}[name]
    return getattr(importlib.import_module(module), cls)


def run(args, work: str) -> dict:
    import bench
    from common import percentile

    from druid_hadoop_utils_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        cls = _load_workload(args.workload)
        setups = []
        # the traced run sets up once (and once more for its untraced pass)
        repeats = 1 if args.trace else SETUP_REPEATS
        for k in range(repeats):
            wl = cls(spark, os.path.join(work, f"setup{k}"), args.seed)
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
            if k < repeats - 1:
                wl.discard()
        result = Result()
        t0 = time.perf_counter()
        warm(wl, result)
        warm_s = time.perf_counter() - t0
        setup_s = start_s + statistics.median(setups)

        cpu0, wall0 = bench._cpu_sample(), time.perf_counter()
        if not args.trace:
            measure(wl, result, NULL_TRACER, args.seconds)
            metrics = _end_to_end(result, setup_s)
            trace_info = None
        else:
            metrics, trace_info, wl = _traced(spark, cls, wl, args, work, result,
                                              start_s)
        foreign, steal = bench._foreign_cores(
            cpu0, bench._cpu_sample(), time.perf_counter() - wall0)
        detail = {
            "detail": True,
            "workload": args.workload,
            "seed": args.seed,
            "inputs_fingerprint": wl.fingerprint,
            "setup_runs_s": [round(s, 4) for s in setups],
            "session_start_s": round(start_s, 4),
            "warm_s": round(warm_s, 4),
            "peak_rss_parts_mb": {k: round(v, 1) for k, v in result.peak_rss_parts.items()},
            "classes": {
                c: {"n": len(v), "p50_s": round(statistics.median(v), 4),
                    "p90_s": round(percentile(v, 0.9), 4), "sum_s": round(sum(v), 4)}
                for c, v in sorted(result.samples.items())
            },
            "workload_metrics": wl.detail_metrics(result.samples),
            "foreign_cpu_cores": round(foreign, 3),
            "steal_cpu_cores": round(steal, 3),
            "contaminated": (foreign >= bench.FOREIGN_CPU_CORES
                             or steal >= bench.FOREIGN_CPU_CORES),
            "errors": result.errors,
        }
        if trace_info is not None:
            detail["trace"] = trace_info
        print(json.dumps(detail))
        return {
            "correct": result.failed == 0,
            "attempted": result.attempted,
            "failed": result.failed,
            "metrics": metrics,
        }
    finally:
        stop_spark(spark)


def _end_to_end(result: Result, setup_s: float) -> dict:
    lat = result.all_samples()
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": result.peak_rss_mb,
        "ops_ok_ratio": (result.attempted - result.failed) / result.attempted,
        # closed loop: completed ops per second of their own latency
        "ops_per_s": len(lat) / sum(lat),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def _traced(spark, cls, wl, args, work: str, result: Result, start_s: float):
    """The traced run: the warmed-up workload runs its op sequence traced,
    exactly where a measured run would run it untraced, so the per-layer
    numbers describe a measured run. The same sequence then runs untraced
    on a fresh set-up from the same seed; the traced pass's output hashes
    must equal it. The overhead is the tracer's own bookkeeping time as a
    share of the traced pass's busy time (comparing the two passes' busy
    times would mostly measure that the second pass runs warmer)."""
    from tracing import PER_LAYER, Tracer

    def busy(res: Result) -> float:   # timed regions only, not checks
        return sum(res.all_samples())

    wl.mode.keep_outputs = True
    tracer = Tracer(spark, start_s)
    wl.mode.tracer = tracer
    traced: list[str] = []
    with tracer:
        n = measure(wl, result, tracer, args.seconds, digests=traced)
    ops = n - len(wl.closing_ops())
    wl.discard()

    again = cls(spark, os.path.join(work, "again"), args.seed)
    again.mode.keep_outputs = True
    again.setup()
    plain: list[str] = []
    second = Result()
    measure(again, second, NULL_TRACER, 0, max_ops=ops, digests=plain)
    again.discard()

    match = plain == traced
    if not match:
        result.attempted += 1
        result.failed += 1
        result.errors.append("traced outputs differ from untraced outputs")
    layer = tracer.metrics()
    layer["trace.overhead_ratio"] = tracer.own_s / busy(result)
    info = {"ops": n, "busy_s": {"traced": round(busy(result), 4),
                                 "untraced_after": round(busy(second), 4)},
            "tracer_own_s": round(tracer.own_s, 4),
            "outputs_match": match, "spans": len(tracer.spans),
            "class_layers": tracer.class_layers()}
    tracer.dump(os.path.join(ROOT, ".perfbench_traces",
                             f"{args.workload}-seed{args.seed}.json"), info)
    metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
               for k, u in PER_LAYER.items()}
    return metrics, info, wl


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "druid_hadoop_utils_spark",
                                       "__init__.py")):
        print("perfbench: run from a checkout of the repository; "
              "druid_hadoop_utils_spark/ is missing", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    sys.path[:0] = [HERE, ROOT]
    _confine(work, bool(args.trace))
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
