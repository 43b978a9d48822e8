"""Spans around the engine's layers, recorded from the benchmark's side.

The traced run installs wrappers on the public functions of each layer
(``WRAPS``): the module attribute and every other binding of the same
function object in the package's loaded modules (``from … import``
copies) are replaced, and restored on exit. Inside an op, each wrapper
opens a span — name, layer, start, end, parent, trace id (the id of the
op's root span); outside one (the untimed checks and counting-only
calls) it records nothing.
Spans that may launch Spark jobs tag them with ``spark.jobGroup.id`` =
the span id, so once the run ends every job, stage and SQL execution can
be charged to the span that caused it from Spark's in-process status
stores. Spans and counts stay in memory until the run ends.

Self time of a span is its duration minus the union of its child spans
and of its own Spark jobs' wall intervals. The job wall time is split
between the ``python`` layer and the ``spark`` layer by the share of the
jobs' executor run time that Spark's "time to run Python workers" SQL
metric takes. The "time to initialize Python workers" metric is
reported as Spark gives it but not used for the split: it reads far
larger than the wall time of the ops that report it.
"""

from __future__ import annotations

import json
import re
import sys
import time
from collections import defaultdict

PKG = "druid_hadoop_utils_spark"

#: (module under the package, function, layer, tags Spark jobs)
WRAPS = [
    ("sources.segments", "list_manifests", "sources.segments", False),
    ("sources.segments", "resolve_visible_windows", "sources.segments", False),
    ("sources.segments", "timeline_version", "sources.segments", False),
    ("plans.planner", "load", "plans", True),
    ("functions.filters", "filter_to_column", "functions", False),
    ("functions.aggregators", "agg_expr", "functions", False),
    ("functions.aggregators", "post_agg_expr", "functions", False),
    ("functions.granularity", "granularity_expr", "functions", False),
    ("functions.kll", "kll_state_grouped", "functions", True),
    ("functions.kll", "merge_kll_states", "functions", True),
    ("functions.kll", "kll_quantiles", "functions", True),
    ("api", "druid_query", "api", True),
    ("sources.ingest", "publish_segments", "sources.ingest", True),
    ("sources.druid_segment", "read_segment", "sources.druid_segment", False),
    ("sources.druid_segment", "import_druid_segment", "sources.druid_segment",
     True),
    ("sources.dml", "merge_into", "sources.dml", True),
    ("sources.dml", "update_where", "sources.dml", True),
    ("sources.dml", "delete_where", "sources.dml", True),
    ("sources.lease", "_try_acquire", "sources.lease", False),
    ("sources.cache", "cached_druid_query", "sources.cache", True),
    ("sources.changes", "read_changes", "sources.changes", True),
    ("sources.maintenance", "maintain_table", "sources.maintenance", True),
    ("sources.maintenance", "auto_compact", "sources.maintenance", True),
    ("sources.maintenance", "vacuum", "sources.maintenance", True),
    ("operators.dedup", "exact_dedup", "operators.dedup", True),
    ("operators.dedup", "minhash_lsh_dedup_pairs", "operators.dedup", True),
    ("operators.dedup", "simhash_candidate_pairs", "operators.dedup", True),
    ("operators.text", "with_text_analysis", "operators.text", True),
    ("operators.text", "quality_score", "operators.text", False),
    ("operators.similarity", "ivfpq_topk", "operators.similarity", True),
    ("operators.similarity", "lsh_topk", "operators.similarity", True),
]

LAYERS = [
    "bench", "session", "sources.segments", "plans", "functions", "api",
    "spark", "python", "sources.ingest", "sources.druid_segment",
    "sources.dml", "sources.lease", "sources.cache", "sources.changes",
    "sources.maintenance", "operators.dedup", "operators.text",
    "operators.similarity", "operators.shared",
]

#: layer -> the end-to-end metric (and workload) its time should move
LAYER_TARGETS = {
    "session": "setup_s (both)",
    "sources.segments": "ops_per_s (olap_ingest); detail short_query_p50_s, dml_p50_s",
    "plans": "ops_per_s (olap_ingest); detail short_query_p50_s, scan_query_p50_s",
    "functions": "ops_per_s (olap_ingest); detail short_query_p50_s, sketch_query_p50_s",
    "api": "ops_per_s (olap_ingest); detail short/scan/sketch_query_p50_s",
    "spark": "ops_per_s (both); detail scan_query_p50_s, corpus_docs_per_s",
    "python": "ops_per_s (both); detail sketch_query_p50_s, ann_query_p50_s",
    "sources.ingest": "ops_per_s (olap_ingest), setup_s; detail publish_rows_per_s",
    "sources.druid_segment": "ops_per_s (olap_ingest); detail druid_import_rows_per_s",
    "sources.dml": "ops_per_s (olap_ingest); detail dml_p50_s",
    "sources.lease": "ops_per_s (olap_ingest); detail dml_p50_s",
    "sources.cache": "ops_per_s (olap_ingest); detail read_after_write_p50_s",
    "sources.changes": "ops_per_s (olap_ingest); detail changes_read_p50_s",
    "sources.maintenance": "ops_per_s (olap_ingest); detail maintain_s",
    "operators.dedup": "ops_per_s (corpus_dedup); detail corpus_docs_per_s",
    "operators.text": "ops_per_s (corpus_dedup); detail corpus_docs_per_s",
    "operators.similarity": "ops_per_s (corpus_dedup); detail ann_query_p50_s",
    "operators.shared": "peak_rss_mb (corpus_dedup)",
    "bench": "(the benchmark's own driver code)",
}

OLAP_CLASSES = ("short", "scan", "sketch")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "sources.segments.list_manifests_s": "s",
    "sources.segments.resolve_windows_s": "s",
    "sources.segments.manifests_listed": "count",
    "sources.segments.timeline_version_s": "s",
    "plans.planner.load_s": "s",
    "plans.planner.segments_scanned": "count",
    "plans.planner.spark_jobs": "count",
    "plans.pruning.segments_pruned_ratio": "ratio",
    **{f"api.druid_query.compile_s.{c}": "s" for c in OLAP_CLASSES},
    **{f"api.execute_s.{c}": "s" for c in OLAP_CLASSES},
    "functions.construct_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.exec.run_s": "s",
    "spark.exec.cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.input_bytes": "bytes",
    "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
    "python.worker_start_s": "s",
    "python.worker_init_s": "s",
    "python.worker_run_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "sources.ingest.publish_s": "s",
    "sources.ingest.bytes_written": "bytes",
    "sources.ingest.files_written": "count",
    "sources.druid_segment.read_segment_s": "s",
    "sources.druid_segment.import_s": "s",
    "sources.dml.merge_s": "s",
    "sources.dml.update_s": "s",
    "sources.dml.delete_s": "s",
    "sources.dml.buckets_rewritten": "count",
    "sources.dml.bytes_rewritten_per_row_changed": "bytes",
    "sources.lease.wait_s": "s",
    "sources.cache.miss_s": "s",
    "sources.cache.hit_s": "s",
    "sources.cache.hit_ratio": "ratio",
    "sources.changes.compile_s": "s",
    "sources.changes.execute_s": "s",
    "sources.changes.rows_out": "count",
    "sources.maintenance.auto_compact_s": "s",
    "sources.maintenance.vacuum_s": "s",
    "sources.maintenance.compacted": "count",
    "sources.maintenance.bytes_rewritten": "bytes",
    "sources.maintenance.bytes_reclaimed": "bytes",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.simhash_s": "s",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.lsh_verified_per_candidate": "ratio",
    "operators.text.analysis_s": "s",
    "operators.shared.persist_generations": "count",
    "operators.similarity.ann_s": "s",
    "operators.similarity.candidates_per_query": "count",
    "operators.similarity.recall_at_k": "ratio",
    **{f"layer.{name}.self_s": "s" for name in LAYERS},
    "trace.overhead_ratio": "ratio",
}

#: Spark confs the traced run needs so no job, stage or SQL execution is
#: evicted from the status stores before the run ends
RETAIN_CONFS = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


class _Null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _Null()


class NullTracer:
    """Tracing off: spans and counts cost one method call."""

    enabled = False

    def span(self, name: str, layer: str, jobs: bool = True):
        return _NULL

    def root(self, name: str, cls: str):
        return _NULL

    def count(self, name: str, value: float) -> None:
        pass


NULL_TRACER = NullTracer()


class _Span:
    __slots__ = ("tracer", "rec", "prev_group")

    def __init__(self, tracer, rec):
        self.tracer = tracer
        self.rec = rec

    def __enter__(self):
        t0 = time.perf_counter()
        t = self.tracer
        parent = t.stack[-1] if t.stack else None
        rec = self.rec
        rec["id"] = len(t.spans)
        rec["parent"] = parent["id"] if parent else None
        rec["trace"] = parent["trace"] if parent else rec["id"]
        rec["cls"] = parent["cls"] if parent else rec.get("cls")
        t.spans.append(rec)
        t.stack.append(rec)
        self.prev_group = t.group
        if rec["jobs"]:
            t.set_group(f"pb{rec['id']}")
        rec["start"] = time.perf_counter()
        t.own_s += rec["start"] - t0
        return self

    def __exit__(self, *exc):
        t = self.tracer
        self.rec["end"] = time.perf_counter()
        if exc[0] is not None:
            self.rec["error"] = exc[0].__name__
        t.stack.pop()
        if self.rec["jobs"]:
            t.set_group(self.prev_group)
        t.own_s += time.perf_counter() - self.rec["end"]
        return False


class Tracer:
    """In-memory spans and counts for one traced run; a context manager
    that installs the layer wrappers on entry and removes them on exit."""

    enabled = True

    def __init__(self, spark, session_start_s: float) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.group: str | None = None
        #: time spent in span bookkeeping (opening, closing, job tagging)
        self.own_s = 0.0
        self.session_start_s = session_start_s
        self._patched: list[tuple[object, str, object]] = []
        self._jobs: dict[int, dict] = {}

    # ----------------------------------------------------------- spans

    def set_group(self, group: str | None) -> None:
        self.group = group
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def span(self, name: str, layer: str, jobs: bool = True) -> _Span:
        return _Span(self, {"name": name, "layer": layer, "jobs": jobs})

    def root(self, name: str, cls: str) -> _Span:
        return _Span(self, {"name": name, "layer": "bench", "jobs": True,
                            "cls": cls, "root": True})

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    # -------------------------------------------------------- wrappers

    def _wrap(self, fn, name: str, layer: str, jobs: bool):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.stack:   # outside an op: counting-only calls
                return fn(*args, **kwargs)
            with tracer.span(name, layer, jobs):
                out = fn(*args, **kwargs)
            if name == "sources.segments.list_manifests":
                tracer.count("sources.segments.manifests_listed", len(out))
            return out

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        return traced

    def _counting(self, fn, name: str):
        tracer = self

        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            if not tracer.stack:
                return out
            tracer.count(name, 1)
            if out is False:
                tracer.count(name + ".false", 1)
            return out

        counted.__wrapped__ = fn
        return counted

    def _patch_everywhere(self, original, replacement) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, replacement)

    def __enter__(self):
        import importlib

        for mod, fn_name, layer, jobs in WRAPS:
            module = importlib.import_module(f"{PKG}.{mod}")
            original = getattr(module, fn_name)
            self._patch_everywhere(original, self._wrap(
                original, f"{mod}.{fn_name}", layer, jobs))
        for mod, fn_name in (("plans.pruning", "segment_excluded"),
                             ("operators.shared", "persist_shared")):
            module = importlib.import_module(f"{PKG}.{mod}")
            original = getattr(module, fn_name)
            self._patch_everywhere(original, self._counting(
                original, f"{mod}.{fn_name}"))
        return self

    def __exit__(self, *exc):
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()
        self.set_group(None)
        return False

    # ------------------------------------------------ Spark status stores

    def _collect_spark(self) -> None:
        """Charge every job, stage and Python-worker SQL metric of the
        run to the span whose group tagged it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if not rec["jobs"]:
                continue
            rec["spark"] = acc = defaultdict(float)
            rec["job_walls"] = walls = []
            for job_id in tracker.getJobIdsForGroup(f"pb{rec['id']}"):
                job = store.job(job_id)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    walls.append((sub.get().getTime() / 1000.0,
                                  done.get().getTime() / 1000.0))
                self._jobs[int(job_id)] = rec
                acc["jobs"] += 1
                for stage_id in tracker.getJobInfo(job_id).stageIds:
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Exception:  # noqa: BLE001 — stage never submitted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    acc["tasks_failed"] += st.numFailedTasks()
                    acc["exec.run_s"] += st.executorRunTime() / 1e3
                    acc["exec.cpu_s"] += st.executorCpuTime() / 1e9
                    acc["exec.gc_s"] += st.jvmGcTime() / 1e3
                    acc["exec.input_bytes"] += st.inputBytes()
                    acc["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                    acc["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    acc["exec.spill_bytes"] += (st.memoryBytesSpilled()
                                                + st.diskBytesSpilled())
        self._collect_python_metrics()

    _PY_METRICS = {
        "time to start Python workers": "worker_start_s",
        "time to initialize Python workers": "worker_init_s",
        "time to run Python workers": "worker_run_s",
        "data sent to Python workers": "bytes_sent",
        "data returned from Python workers": "bytes_returned",
    }
    _METRIC_RE = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)")

    def _collect_python_metrics(self) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        # a reused plan reports the same accumulators under several
        # executions: count each accumulator once
        seen: set[int] = set()
        for i in range(execs.size()):
            ex = execs.apply(i)
            job_ids = [int(j) for j in ex.jobs().keys().mkString(",").split(",")
                       if j]
            owner = next((self._jobs[j] for j in job_ids if j in self._jobs),
                         None)
            if owner is None:
                continue
            wanted = []
            for item in ex.metrics().mkString("\x00").split("\x00"):
                m = self._METRIC_RE.fullmatch(item)
                if (m and m.group(1) in self._PY_METRICS
                        and int(m.group(2)) not in seen):
                    seen.add(int(m.group(2)))
                    wanted.append((self._PY_METRICS[m.group(1)], int(m.group(2))))
            if not wanted:
                continue
            values = sql.executionMetrics(ex.executionId())
            for key, acc_id in wanted:
                v = values.get(acc_id)
                if v.isDefined():
                    owner["spark"]["py." + key] += _parse_metric(v.get())

    # ---------------------------------------------------------- results

    def _total(self, name: str, direct: bool = False) -> float:
        """Summed duration of the outermost spans called ``name``
        (``direct``: only those opened straight from an op's root)."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            p = by_id.get(s["parent"])
            if direct and not (p and p.get("root")):
                continue
            nested = False
            while p is not None:
                if p["name"] == name:
                    nested = True
                    break
                p = by_id.get(p["parent"])
            if not nested:
                total += s["end"] - s["start"]
        return total

    def _self_times(self) -> dict[tuple[str, str], float]:
        """Self time per (op class, layer); see the module docstring."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        # job walls are epoch seconds; map them onto the perf_counter axis
        shift = time.perf_counter() - time.time()
        out: dict[tuple[str, str], float] = defaultdict(float)
        for s in self.spans:
            jobs = [(a + shift, b + shift) for a, b in s.get("job_walls", [])]
            kids = _union(children[s["id"]] + jobs, s["start"], s["end"])
            job_wall = _union(jobs, s["start"], s["end"])
            out[s["cls"], s["layer"]] += (s["end"] - s["start"]) - kids
            if job_wall:
                acc = s["spark"]
                run = acc["exec.run_s"]
                share = min(1.0, acc["py.worker_run_s"] / run) if run else 0.0
                out[s["cls"], "python"] += job_wall * share
                out[s["cls"], "spark"] += job_wall * (1.0 - share)
        return out

    def class_layers(self) -> dict[str, dict[str, float]]:
        """{op class: {layer: self seconds}} — call after ``metrics``."""
        out: dict[str, dict[str, float]] = defaultdict(dict)
        for (cls, layer), secs in self._self_times().items():
            out[cls][layer] = round(secs, 4)
        return dict(out)

    def metrics(self) -> dict[str, float]:
        self._collect_spark()
        c = self.counts
        spark = defaultdict(float)
        for s in self.spans:
            for k, v in s.get("spark", {}).items():
                spark[k] += v
        by_id = {s["id"]: s for s in self.spans}

        def under(span, name):
            while span is not None:
                if span["name"] == name:
                    return True
                span = by_id.get(span["parent"])
            return False

        planner_jobs = sum(s.get("spark", {}).get("jobs", 0) for s in self.spans
                           if under(s, "plans.planner.load"))
        hits = misses = 0
        hit_s = miss_s = 0.0
        for s in self.spans:
            if s["name"] != "sources.cache.cached_druid_query":
                continue
            # one client thread: a druid_query inside the cached call's
            # interval of the same trace ran beneath it — a miss
            if any(x["name"] == "api.druid_query" and x["trace"] == s["trace"]
                   and s["start"] <= x["start"] and x["end"] <= s["end"]
                   for x in self.spans):
                misses += 1
                miss_s += s["end"] - s["start"]
            else:
                hits += 1
                hit_s += s["end"] - s["start"]

        def per_class(name):
            out = defaultdict(float)
            for s in self.spans:
                p = by_id.get(s["parent"])
                if s["name"] == name and not (p and p["name"] == name):
                    out[s["cls"]] += s["end"] - s["start"]
            return out

        compile_s = per_class("api.druid_query")
        execute_s = per_class("api.execute")
        considered = c["plans.pruning.segments_considered"]
        out = {
            "session.start_s": self.session_start_s,
            "sources.segments.list_manifests_s":
                self._total("sources.segments.list_manifests"),
            "sources.segments.resolve_windows_s":
                self._total("sources.segments.resolve_visible_windows"),
            "sources.segments.manifests_listed":
                c["sources.segments.manifests_listed"],
            "sources.segments.timeline_version_s":
                self._total("sources.segments.timeline_version"),
            "plans.planner.load_s": self._total("plans.planner.load"),
            "plans.planner.segments_scanned":
                c["plans.pruning.segment_excluded.false"],
            "plans.planner.spark_jobs": planner_jobs,
            "plans.pruning.segments_pruned_ratio":
                c["plans.pruning.segments_pruned"] / considered if considered else 0.0,
            "functions.construct_s": sum(
                self._total(f"functions.{n}") for n in (
                    "filters.filter_to_column", "aggregators.agg_expr",
                    "aggregators.post_agg_expr", "granularity.granularity_expr")),
            "sources.ingest.publish_s":
                self._total("sources.ingest.publish_segments", direct=True),
            "sources.druid_segment.read_segment_s":
                self._total("sources.druid_segment.read_segment"),
            "sources.druid_segment.import_s":
                self._total("sources.druid_segment.import_druid_segment"),
            "sources.dml.merge_s": self._total("sources.dml.merge_into"),
            "sources.dml.update_s": self._total("sources.dml.update_where"),
            "sources.dml.delete_s": self._total("sources.dml.delete_where"),
            "sources.lease.wait_s": self._total("sources.lease._try_acquire"),
            "sources.cache.miss_s": miss_s,
            "sources.cache.hit_s": hit_s,
            "sources.cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "sources.changes.compile_s": self._total("sources.changes.read_changes"),
            "sources.changes.execute_s": self._total("sources.changes.execute"),
            "sources.maintenance.auto_compact_s":
                self._total("sources.maintenance.auto_compact"),
            "sources.maintenance.vacuum_s": self._total("sources.maintenance.vacuum"),
            "operators.dedup.exact_s": self._total("operators.dedup.exact"),
            "operators.dedup.minhash_s": self._total("operators.dedup.minhash"),
            "operators.dedup.simhash_s": self._total("operators.dedup.simhash"),
            "operators.text.analysis_s": self._total("operators.text.analysis"),
            "operators.shared.persist_generations":
                c["operators.shared.persist_shared"],
            "operators.similarity.ann_s": self._total("operators.similarity.ann"),
        }
        for cls in OLAP_CLASSES:
            out[f"api.druid_query.compile_s.{cls}"] = compile_s.get(cls, 0.0)
            out[f"api.execute_s.{cls}"] = execute_s.get(cls, 0.0)
        for key in ("jobs", "stages", "tasks", "tasks_failed", "exec.run_s",
                    "exec.cpu_s", "exec.gc_s", "exec.input_bytes",
                    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
                    "exec.spill_bytes"):
            out[f"spark.{key}"] = spark[key]
        for key in ("worker_start_s", "worker_init_s", "worker_run_s",
                    "bytes_sent", "bytes_returned"):
            out[f"python.{key}"] = spark["py." + key]
        # counts the workloads recorded outside the timed spans
        for key, value in c.items():
            if key in PER_LAYER:
                out[key] = value
        rows = c["sources.dml.rows_changed"]
        out["sources.dml.bytes_rewritten_per_row_changed"] = (
            c["sources.dml.bytes_rewritten"] / rows if rows else 0.0)
        cands = c["operators.dedup.lsh_candidates"]
        out["operators.dedup.lsh_verified_per_candidate"] = (
            c["operators.dedup.lsh_verified"] / cands if cands else 0.0)
        queries = c["operators.similarity.queries"]
        out["operators.similarity.candidates_per_query"] = (
            c["operators.similarity.candidates"] / queries if queries else 0.0)
        checked = c["operators.similarity.recall_checked"]
        out["operators.similarity.recall_at_k"] = (
            c["operators.similarity.recall_hits"] / checked if checked else 0.0)
        layers: dict[str, float] = defaultdict(float)
        for (_cls, layer), secs in self._self_times().items():
            layers[layer] += secs
        layers["session"] += self.session_start_s
        for layer, secs in layers.items():
            out[f"layer.{layer}.self_s"] = secs
        return out

    def dump(self, path: str, info: dict) -> None:
        """Write every span and count as JSON."""
        import os

        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        spans = [{k: v for k, v in s.items() if k != "job_walls"}
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"info": info, "counts": dict(self.counts),
                       "spans": spans}, f)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}


def _parse_metric(text: str) -> float:
    """Total of a Spark SQL metric string: the first value of its last
    line, e.g. ``total (min, med, max ...)\\n5.5 s (1.4 s, ...)``."""
    value, unit = text.strip().splitlines()[-1].split()[:2]
    return float(value.replace(",", "")) * _UNITS.get(unit, 1.0)
