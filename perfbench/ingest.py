"""ingest_mutate — writes beside reads.

Set-up: a base table of 10 days of January 2023 (one DAY segment per
day) and, in a
side table, a few seeded days exported as Druid v9 segments with
``export_druid_segments``. Each cycle then commits five times — publish
one new day in several small files, ``import_druid_segment`` one v9
segment, ``merge_into`` (~1% of three days' keys updated plus late
inserts), ``update_where``, ``delete_where`` — and after every commit
runs one dashboard query twice through ``cached_druid_query``: the
first call must miss (the timeline moved), the second must hit. Every
cycle ends by reading the logical change feed since the previous stamp.
The run closes with ``maintain_table``, which must compact the published
day's multi-file segment.

A replay of the same seeded operations on plain Python rows is the
oracle for the final visible rows, the change feed and the import.
"""

from __future__ import annotations

import os
from collections import Counter
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import Op, Workload, check_oracle, fingerprint, percentile, rows_digest

DS = "events"
BASE_START = datetime(2023, 1, 1)
BASE_DAYS = 10
ROWS_PER_DAY = 600
IMPORT_ROWS = 300
#: cycles prepared at set-up (each needs one exported v9 segment)
MAX_CYCLES = 1
FILES_PER_NEW_DAY = 3
#: Spark's adaptive partition coalescing, switched off for the publish
COALESCE_CONF = "spark.sql.adaptive.coalescePartitions.enabled"
N_COUNTRIES = 50
N_USERS = 5000
EVENT_TYPES = ["view", "click", "search", "cart", "buy", "share", "login", "error"]
COLUMNS = ["__time", "country", "event_type", "user_id", "event_id", "value", "bytes"]
DASHBOARD = {
    "queryType": "timeseries", "dataSource": DS, "granularity": "DAY",
    "intervals": ["2023-01-01T00:00:00/2023-03-01T00:00:00"],
    "aggregations": [
        {"type": "count", "name": "n"},
        {"type": "doubleSum", "name": "value_sum", "fieldName": "value"},
        {"type": "longSum", "name": "bytes_sum", "fieldName": "bytes"}],
}
SPEC = {"granularity": "NONE", "dimensions": ["country", "event_type", "user_id"],
        "metrics": [{"name": "event_id", "type": "long"},
                    {"name": "value", "type": "double"},
                    {"name": "bytes", "type": "long"}]}


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _day_iv(day: datetime) -> str:
    return f"{_iso(day)}/{_iso(day + timedelta(days=1))}"


def _norm(row) -> tuple:
    return tuple(check_oracle.norm_cell(v) for v in row)


class IngestMutate(Workload):
    def setup(self) -> None:
        from druid_hadoop_utils_spark.sources.changes import latest_stamp
        from druid_hadoop_utils_spark.sources.druid_segment_export import (
            export_druid_segments,
        )
        from druid_hadoop_utils_spark.sources.ingest import publish_segments

        self.rng = rng = np.random.default_rng(self.seed)
        self.countries = [f"C{i:02d}" for i in rng.permutation(N_COUNTRIES)]
        self.next_id = 0
        self.rows: dict[int, tuple] = {}
        base = self._gen(BASE_START, BASE_DAYS * 86400, BASE_DAYS * ROWS_PER_DAY)
        self.rows.update((r[4], r) for r in base)
        self.root = os.path.join(self.work, "table")
        publish_segments(self._frame(base, "base"), self.root, DS, version="v1")

        # the Druid v9 segments the cycles import: one per prepared cycle
        self.import_days = [datetime(2023, 2, 2) + timedelta(days=2 * c)
                            for c in range(MAX_CYCLES)]
        self.import_rows = {d: self._gen(d, 86400, IMPORT_ROWS)
                            for d in self.import_days}
        src = os.path.join(self.work, "src")
        publish_segments(self._frame([r for v in self.import_rows.values() for r in v],
                                     "src"), src, DS, version="v1")
        out = os.path.join(self.work, "v9")
        dirs = export_druid_segments(self.spark, src, DS, out, allow_lossy=True)
        self.segment_dirs = {d: next(p for p in dirs if _iso(d)[:10] in p)
                             for d in self.import_days}
        self.fingerprint = fingerprint(*sorted(map(repr, self.rows.values())),
                                       *(repr(self.import_rows[d]) for d in self.import_days))
        self.stamp = latest_stamp(self.root, DS)
        self.stamp_rows = dict(self.rows)
        #: the day the cycle publishes in several small files
        self.published_day = None

    # ---------------------------------------------------------- inputs

    def _gen(self, start: datetime, span_s: int, n: int) -> list[tuple]:
        rng = self.rng
        secs = np.sort(rng.integers(0, span_s, n))
        country = rng.integers(0, N_COUNTRIES, n)
        et = rng.integers(0, len(EVENT_TYPES), n)
        user = rng.integers(0, N_USERS, n)
        value = rng.integers(0, 4000, n) / 4.0   # exact in float32 and in sums
        nbytes = rng.integers(0, 100_000, n)
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        return [(start + timedelta(seconds=int(s)), [self.countries[c]],
                 [EVENT_TYPES[e]], [f"u{u}"], i, float(v), int(b))
                for s, c, e, u, i, v, b in zip(secs, country, et, user, ids, value, nbytes)]

    def _frame(self, rows: list[tuple], name: str):
        """Rows -> parquet in the work dir -> a Spark DataFrame over it."""
        path = os.path.join(self.work, "inputs", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(_table(rows), path)
        return self.spark.read.parquet(path)

    def _visible(self, interval: str = "2023-01-01T00:00:00/2023-03-01T00:00:00"):
        from druid_hadoop_utils_spark.plans import planner

        return planner.load(self.spark, self.root, SPEC, interval=interval,
                            data_source=DS).select(*COLUMNS)

    # ------------------------------------------------------------ stream

    def batches(self):
        """One cycle per batch: five commits, each followed by its two
        dashboard reads, then the change feed since the last stamp."""
        for c in range(MAX_CYCLES):
            ops = []
            for commit in (self._publish, self._import, self._merge, self._update,
                           self._delete):
                ops.append(commit(c))
                ops += self._dashboard(f"c{c}-{ops[-1].name}")
            yield ops + [self._changes()]

    def _publish(self, c: int) -> Op:
        from druid_hadoop_utils_spark.sources.ingest import publish_segments

        day = datetime(2023, 2, 1) + timedelta(days=2 * c)
        rows = self._gen(day, 86400, ROWS_PER_DAY)
        state = {}

        def before():
            state["df"] = self._frame(rows, f"day{c}")

        def run():
            # files_per_bucket only bounds the files: the adaptive planner
            # would fold this small shuffle into one task and one file, so
            # coalescing is off for the publish, as for a many-writer
            # ingest that leaves the small files compaction exists for
            conf = self.spark.conf
            saved = conf.get(COALESCE_CONF)
            conf.set(COALESCE_CONF, "false")
            try:
                return publish_segments(state["df"], self.root, DS, version=f"p{c}",
                                        files_per_bucket=FILES_PER_NEW_DAY)
            finally:
                conf.set(COALESCE_CONF, saved)

        def check(manifests):
            self.rows.update((r[4], r) for r in rows)
            files = [os.path.join(m.path, f) for m in manifests
                     for f in os.listdir(m.path) if f.endswith(".parquet")]
            self.tracer.count("sources.ingest.files_written", len(files))
            self.tracer.count("sources.ingest.bytes_written",
                              sum(os.path.getsize(f) for f in files))
            self.published_day = day
            return None if len(files) >= 2 else (
                f"publish wrote {len(files)} file(s); the day needs several for compaction")

        return Op("publish", "publish", run, check, before=before)

    def _import(self, c: int) -> Op:
        from druid_hadoop_utils_spark.sources.druid_segment import import_druid_segment

        day = self.import_days[c]

        def run():
            return import_druid_segment(self.spark, self.segment_dirs[day], self.root,
                                        data_source=DS)

        def check(_):
            expected = self.import_rows[day]
            self.rows.update((r[4], r) for r in expected)
            got = self._visible(_day_iv(day)).collect()
            a = check_oracle.table_hash([tuple(r) for r in got], COLUMNS)
            b = check_oracle.table_hash(expected, COLUMNS)
            return None if a == b else f"imported rows {len(got)} != exported {len(expected)}"

        return Op("import", "import", run, check)

    def _merge(self, c: int) -> Op:
        from druid_hadoop_utils_spark.sources.dml import merge_into

        rng = self.rng
        days = sorted(rng.choice(BASE_DAYS, 3, replace=False))
        keys = [k for k, r in self.rows.items()
                if (r[0] - BASE_START).days in days]
        n_upd = max(1, len(self.rows) // 100)
        picked = sorted(rng.choice(keys, min(n_upd, len(keys)), replace=False))
        updates = [self.rows[int(k)][:5] + (self.rows[int(k)][5] + 0.25,
                                            self.rows[int(k)][6] + 1) for k in picked]
        late = []
        for d in days:
            late += self._gen(BASE_START + timedelta(days=int(d)), 86400, 20)
        state = {}

        def before():
            state["df"] = self._frame(updates + late, f"merge{c}")

        def run():
            return merge_into(self.spark, self.root, DS, state["df"], ["event_id"])

        def check(manifests):
            self.rows.update((r[4], r) for r in updates + late)
            self._count_dml([m for m in manifests if not m.tombstone],
                            len(updates) + len(late))
            return None

        return Op("merge_into", "dml", run, check, before=before)

    def _update(self, c: int) -> Op:
        from druid_hadoop_utils_spark.sources.dml import update_where

        day = BASE_START + timedelta(days=int(self.rng.integers(0, BASE_DAYS)))
        country = self.countries[int(self.rng.integers(0, 5))]
        flt = {"type": "selector", "dimension": "country", "value": country}

        def run():
            return update_where(self.spark, self.root, DS, flt, {"value": "value + 1"},
                                interval=_day_iv(day))

        def check(out):
            hit = [k for k, r in self.rows.items()
                   if r[1] == [country] and day <= r[0] < day + timedelta(days=1)]
            for k in hit:
                r = self.rows[k]
                self.rows[k] = r[:5] + (r[5] + 1.0, r[6])
            self._count_dml([m for m in out["announced"] if not m.tombstone], len(hit))
            return None

        return Op("update_where", "dml", run, check)

    def _delete(self, c: int) -> Op:
        from druid_hadoop_utils_spark.sources.dml import delete_where

        week = BASE_START + timedelta(days=int(self.rng.integers(0, BASE_DAYS - 7)))
        users = [f"u{u}" for u in self.rng.choice(N_USERS, 5, replace=False)]
        flt = {"type": "in", "dimension": "user_id", "values": users}
        interval = f"{_iso(week)}/{_iso(week + timedelta(days=7))}"

        def run():
            return delete_where(self.spark, self.root, DS, flt, interval=interval)

        def check(out):
            gone = [k for k, r in self.rows.items()
                    if r[3][0] in users and week <= r[0] < week + timedelta(days=7)]
            for k in gone:
                del self.rows[k]
            self._count_dml([m for m in out["announced"] if not m.tombstone], len(gone))
            return None

        return Op("delete_where", "dml", run, check)

    def _count_dml(self, manifests, rows_changed: int) -> None:
        if not self.tracer.enabled:
            return
        files = [os.path.join(m.path, f) for m in manifests
                 for f in os.listdir(m.path) if f.endswith(".parquet")]
        self.tracer.count("sources.dml.buckets_rewritten", len(manifests))
        self.tracer.count("sources.dml.bytes_rewritten",
                          sum(os.path.getsize(f) for f in files))
        self.tracer.count("sources.dml.rows_changed", rows_changed)

    def _dashboard(self, after: str) -> list[Op]:
        from druid_hadoop_utils_spark.sources.cache import cached_druid_query, query_cache_key

        key_dir = os.path.join(self.root, DS, "_result_cache",
                               query_cache_key(dict(DASHBOARD), DS))
        state = {}

        def entries():
            return len([e for e in os.listdir(key_dir) if e != "query.json"]) \
                if os.path.isdir(key_dir) else 0

        def make(kind: str) -> Op:
            def before():
                state[kind] = entries()

            def run():
                return self._finish(cached_druid_query(self.spark, self.root, DS, DASHBOARD))

            def check(out):
                grew = entries() - state[kind]
                h = rows_digest(out)
                if kind == "miss":
                    state["hash"] = h
                    return None if grew == 1 else f"expected a cache miss after {after}"
                if grew:
                    return f"expected a cache hit after {after}"
                return None if h == state.get("hash") else "cache hit differs from its miss"

            return Op(f"dashboard_{kind}", f"read_{kind}", run, check, rows_digest,
                      before=before)

        return [make("miss"), make("hit")]

    def _changes(self) -> Op:
        from druid_hadoop_utils_spark.sources.changes import latest_stamp, read_changes

        def run():
            feed = read_changes(self.spark, self.root, DS, self.stamp, mode="logical")
            with self.tracer.span("sources.changes.execute", "sources.changes"):
                return feed, feed.collect()

        def check(out):
            feed, rows = out
            cols = feed.columns
            got = Counter()
            for r in rows:
                d = r.asDict()
                got[(_norm([d[c] for c in COLUMNS]), d["_change_type"])] += d["_n"]
            before = Counter(_norm(r) for r in self.stamp_rows.values())
            now = Counter(_norm(r) for r in self.rows.values())
            want = Counter()
            for row, n in (now - before).items():
                want[(row, "insert")] += n
            for row, n in (before - now).items():
                want[(row, "delete")] += n
            self.tracer.count("sources.changes.rows_out", len(rows))
            self.stamp = latest_stamp(self.root, DS)
            self.stamp_rows = dict(self.rows)
            if "_change_type" not in cols:
                return "change feed has no _change_type column"
            return None if got == want else (
                f"change feed nets {sum(got.values())} rows, replay {sum(want.values())}")

        return Op("read_changes", "changes", run, check, rows_digest)

    def closing_ops(self) -> list[Op]:
        from druid_hadoop_utils_spark.intervals import Interval
        from druid_hadoop_utils_spark.sources.maintenance import maintain_table
        from druid_hadoop_utils_spark.sources.segments import list_manifests

        state = {}

        def segments() -> set[str]:
            return {m.path for m in list_manifests(self.root, DS) if not m.tombstone}

        def before():
            state["bytes"] = _du(self.root)
            state["segments"] = segments()

        def run():
            return maintain_table(self.spark, self.root, DS)

        def check(report):
            if self.tracer.enabled:
                # the segments compaction wrote: new since the listing before
                written = segments() - state["segments"]
                self.tracer.count("sources.maintenance.compacted", len(report["compacted"]))
                self.tracer.count("sources.maintenance.bytes_reclaimed",
                                  max(0, state["bytes"] - _du(self.root)))
                self.tracer.count("sources.maintenance.bytes_rewritten",
                                  sum(_du(p) for p in written))
            day = self.published_day
            if day is None:   # the publish op failed; it is counted there
                return None if report["compacted"] else "maintain_table compacted 0 segments"
            small = Interval.parse(_day_iv(day))
            if not any(Interval.parse(iv).covers(small) for iv in report["compacted"]):
                return (f"maintain_table did not compact the published day {day:%Y-%m-%d} "
                        f"(compacted {report['compacted']})")
            return None

        return [Op("maintain_table", "maintain", run, check, before=before)]

    def final_checks(self) -> list[str]:
        got = [tuple(r) for r in self._visible().collect()]
        want = list(self.rows.values())
        # the visible rows as one compact parquet file: the user's bytes
        user = os.path.join(self.work, "user_bytes.parquet")
        pq.write_table(_table(want), user)
        self.stored_per_user_byte = (_du(os.path.join(self.root, DS), skip="_result_cache")
                                     / os.path.getsize(user))
        if check_oracle.table_hash(got, COLUMNS) != check_oracle.table_hash(want, COLUMNS):
            return [f"final visible rows ({len(got)}) differ from the replay ({len(want)})"]
        return []

    def detail_metrics(self, samples: dict[str, list[float]]) -> dict:
        out = {}

        def put(name, value, unit, n):
            out[name] = {"value": round(value, 4), "unit": unit, "n": n}

        if samples.get("publish"):
            v = samples["publish"]
            put("publish_rows_per_s", ROWS_PER_DAY / percentile(v, 0.5), "rows/s", len(v))
        if samples.get("import"):
            v = samples["import"]
            put("druid_import_rows_per_s", IMPORT_ROWS / percentile(v, 0.5), "rows/s", len(v))
        for name, cls in (("dml_p50_s", "dml"), ("read_after_write_p50_s", "read_miss"),
                          ("cache_hit_p50_s", "read_hit"), ("changes_read_p50_s", "changes"),
                          ("maintain_s", "maintain")):
            if samples.get(cls):
                put(name, percentile(samples[cls], 0.5), "s", len(samples[cls]))
        put("bytes_stored_per_user_byte", self.stored_per_user_byte, "ratio", 1)
        return out


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table({
        "__time": pa.array(cols[0], type=pa.timestamp("us")),
        "country": pa.array(cols[1], type=pa.list_(pa.string())),
        "event_type": pa.array(cols[2], type=pa.list_(pa.string())),
        "user_id": pa.array(cols[3], type=pa.list_(pa.string())),
        "event_id": pa.array(cols[4], type=pa.int64()),
        "value": pa.array(cols[5], type=pa.float64()),
        "bytes": pa.array(cols[6], type=pa.int64()),
    })


def _du(path: str, skip: str | None = None) -> int:
    total = 0
    for dirpath, dirnames, files in os.walk(path):
        if skip and skip in dirnames:
            dirnames.remove(skip)
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
