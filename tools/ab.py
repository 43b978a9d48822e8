"""Same-session A/B comparison of two variants on a perfbench workload.

    python tools/ab.py --workload olap_ingest --class short --rounds 5 \\
        conf:spark.sql.adaptive.enabled=false,spark.sql.shuffle.partitions=1 conf:

Run from the root of a checkout. The workload is set up and warmed once
in perfbench's session (``local[3]``, 2g heap, scratch under
``.perfbench_work/``), and its first batch of ops runs once, untimed, so
the tables are in the state the measured stream reads. Each round then
runs the batch's ops (only those of class CLASS with ``--class``) once
under each variant, flipping which variant goes first; the round before
the first is a warm-up and is not reported. Ops with no output digest
(olap_ingest's publish, import and DML writes) change the table, so they
are not re-run; there, ``read_miss`` ops read a warm cache.

A variant is one of:

``conf:k=v[,k=v]``  runtime confs set around the variant's pass and
                    restored after it (``conf:`` alone sets nothing);
``py:module:fn``    ``fn(workload)`` returns a context manager entered
                    around the pass: a patched function, a child session
                    swapped in for ``workload.spark``, a module snapshot.
                    ``module`` is imported from ``sys.path`` (PYTHONPATH;
                    the checkout root is on it).

Every op's output digest must be equal under both variants in every
round; otherwise ab.py exits 1 naming the first op that differs. The
one line on stdout is a JSON object giving, per variant and op class,
the class's pass time (``min_s``, ``median_s`` over rounds), its Spark
jobs (``setJobGroup`` per op + ``statusTracker``) and the py4j round
trips the driver thread sent (``count_round_trips`` of
``tests/test_compile_cost.py``), both per pass, median over rounds.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 1  # the workload's data seed (perfbench's default)


def _count_round_trips():
    spec = importlib.util.spec_from_file_location(
        "test_compile_cost", os.path.join(ROOT, "tests", "test_compile_cost.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.count_round_trips


@contextlib.contextmanager
def _confs(spark, confs: dict[str, str]):
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in confs}
    for k, v in confs.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def variant(spec: str):
    """``spec`` → a function of the workload returning the context
    manager the variant's passes run in."""
    kind, _, rest = spec.partition(":")
    items = [kv for kv in rest.split(",") if kv]
    if kind == "conf" and all("=" in kv for kv in items):
        confs = dict(kv.split("=", 1) for kv in items)
        return lambda wl: _confs(wl.spark, confs)
    module, _, fn = rest.partition(":")
    if kind == "py" and module and fn:
        return getattr(importlib.import_module(module), fn)
    raise SystemExit(f"ab: variant {spec!r} is neither conf:k=v[,k=v] nor py:module:fn")


def run_pass(spark, ops, tag: str, count_round_trips) -> list[tuple]:
    """Run ``ops`` once: per op (seconds, Spark jobs, round trips, digest).
    The digest's own collect runs after the timer, outside the op's job
    group and round-trip count."""
    sc = spark.sparkContext
    out = []
    for i, op in enumerate(ops):
        try:
            if op.before:
                op.before()
            sc.setJobGroup(f"ab-{tag}-{i}", op.name)
            with count_round_trips() as trips:
                t0 = time.perf_counter()
                result = op.run()
                seconds = time.perf_counter() - t0
            sc.setJobGroup(f"ab-{tag}-digest", "digest")
            out.append((seconds, trips[0], op.digest(result)))
        except Exception as e:  # noqa: BLE001 — reported with the op's name
            raise SystemExit(f"ab: op {i} ({op.name}) raised in pass {tag}: "
                             f"{type(e).__name__}: {e}") from e
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return [(s, len(tracker.getJobIdsForGroup(f"ab-{tag}-{i}")), n, d)
            for i, (s, n, d) in enumerate(out)]


def summary(passes: list[list[tuple]], ops) -> dict:
    """Per op class: pass seconds (min, median over rounds) and the
    median Spark jobs and round trips per pass."""
    out = {}
    for cls in dict.fromkeys(op.cls for op in ops):
        idx = [i for i, op in enumerate(ops) if op.cls == cls]
        secs, jobs, trips = ([sum(p[i][k] for i in idx) for p in passes] for k in range(3))
        out[cls] = {"ops": len(idx), "min_s": round(min(secs), 4),
                    "median_s": round(statistics.median(secs), 4),
                    "jobs": statistics.median(jobs),
                    "round_trips": statistics.median(trips)}
    return out


def compare(args, perfbench, work: str) -> dict:
    from druid_hadoop_utils_spark import session

    count_round_trips = _count_round_trips()
    specs = {"a": args.a, "b": args.b}
    variants = {k: variant(s) for k, s in specs.items()}
    spark = session.get_spark("perfbench-ab")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = perfbench._load_workload(args.workload)(spark, work, SEED)
        wl.setup()
        warm = perfbench.Result()
        perfbench.warm(wl, warm)
        if warm.failed:
            raise SystemExit("ab: warm-up checks failed: " + "; ".join(warm.errors))
        batch = next(iter(wl.batches()))
        for op in batch:
            if op.before:
                op.before()
            op.run()
        ops = [op for op in batch if op.digest and args.cls in (None, op.cls)]
        if not ops:
            have = sorted({op.cls for op in batch if op.digest})
            raise SystemExit(f"ab: no re-runnable op of class {args.cls!r}; "
                             f"classes: {', '.join(have)}")
        passes = {"a": [], "b": []}
        for r in range(args.rounds + 1):
            digests = {}
            for key in ("a", "b") if r % 2 == 0 else ("b", "a"):
                with variants[key](wl):
                    done = run_pass(spark, ops, f"{r}{key}", count_round_trips)
                digests[key] = [d[3] for d in done]
                if r:
                    passes[key].append(done)
            for i, (x, y) in enumerate(zip(digests["a"], digests["b"])):
                if x != y:
                    raise SystemExit(f"ab: round {r}: op {i} ({ops[i].name}) output "
                                     f"differs: {args.a!r} {x} != {args.b!r} {y}")
        return {"workload": args.workload, "seed": SEED, "class": args.cls,
                "rounds": args.rounds, "ops": len(ops), "digests_equal": True,
                **{k: {"variant": specs[k], "classes": summary(passes[k], ops)}
                   for k in ("a", "b")}}
    finally:
        perfbench.stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap_ingest", "corpus_dedup"))
    ap.add_argument("--class", dest="cls", help="only this op class")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("a", help="variant A: conf:k=v[,k=v] or py:module:fn")
    ap.add_argument("b", help="variant B")
    args = ap.parse_args(argv)
    if args.rounds < 1:
        ap.error("--rounds must be at least 1")
    sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]
    import run as perfbench

    work = os.path.join(ROOT, ".perfbench_work", f"ab-{os.getpid()}")
    perfbench._confine(work, False)
    try:
        print(json.dumps(compare(args, perfbench, os.path.join(work, "workload"))))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
