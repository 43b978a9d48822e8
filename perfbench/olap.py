"""olap_read — what analysts pay for.

Set-up: January 2023 of seeded event rows published as DAY segments at
version v1; ~10% of the days re-published at v2 with fresh
rows (overshadowing) and a few days dropped (tombstones). The raw rows
stay as parquet so DuckDB can answer every query as the oracle.

Query stream: batches of 32 native queries through ``api.druid_query``
plus the KLL state pipeline over ``plans.planner.load``, in three
classes — ``short`` (one day, 24 per batch), ``scan`` (1–4 weeks, four
per batch) and ``sketch`` (1–4 weeks, one of each of the four sketch
templates per batch). The mix follows the interactive-session shape of
many narrow queries and few wide ones: three narrow queries per wide
one, an assumption, since the session studies give the shape but no
ratio. ``short`` and ``scan`` share three templates (timeseries, topN,
groupBy with DimFilters and post-aggregations) and differ only in
interval and time granularity. Spans cycle through a fixed list, so
every seed runs the same cost profile with different parameters. The
warm-up runs every template over the whole month, which holds every
dropped and re-published day, and the three ``short`` templates over
one day, and checks each against DuckDB.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import (Op, Workload, compare_rows, fingerprint, percentile, rows_digest,
                    zipf_choice)

DS = "events"
YEAR_START = datetime(2023, 1, 1)
DAYS = 31
N_ROWS = 45_000
N_COUNTRIES = 200
N_USERS = 50_000
EVENT_TYPES = ["view", "click", "search", "cart", "buy", "share", "login", "error"]
REPUBLISH_SHARE = 0.10
DROPPED_DAYS = 2
#: day spans of the scan/sketch queries, cycled by position
SPANS = (7, 31, 14)
#: one batch: three one-day queries per wide one (24 short, 4 scan, 4 sketch)
ROTATION = ("T1", "T2", "T3", "scan", "T1", "T2", "T3", "sketch") * 4
SCANS = ("T1", "T2", "T3")
SKETCHES = ("K1", "K2", "K3", "K4")
#: stated errors the sketch results are checked against
HLL_REL_ERR = 0.05     # lgK=12: 1.6% standard error, checked at 3 sigma
THETA_REL_ERR = 0.03   # k=16384: 0.8% standard error, checked at 3 sigma
HIST_BINS = 128        # approxHistogram default; error <= one bin width
KLL_RANK_ERR = 0.05    # the rank-error floor tests/test_kll.py pins
EPOCH = "TIMESTAMP '1970-01-01 00:00:00'"


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _sql_ts(t: datetime) -> str:
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}'"


def _rows(rng: np.random.Generator, seconds: np.ndarray, countries: np.ndarray) -> pa.Table:
    n = len(seconds)
    t = np.datetime64(YEAR_START, "us") + seconds.astype("timedelta64[s]")
    return pa.table({
        "__time": pa.array(t, type=pa.timestamp("us")),
        "country": countries[zipf_choice(rng, N_COUNTRIES, n)],
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "user_id": np.char.add("u", rng.integers(0, N_USERS, n).astype(str)),
        # dyadic values: every sum is exact in any order, in both engines
        "value": rng.integers(0, 4000, n) / 4.0,
        "fvalue": (rng.integers(0, 8000, n) / 8.0).astype(np.float32),
        "bytes": rng.integers(0, 100_000, n),
    })


def _ratio(name: str, num: str, den: str) -> dict:
    return {"type": "arithmetic", "name": name, "fn": "/", "fields": [
        {"type": "fieldAccess", "fieldName": num},
        {"type": "fieldAccess", "fieldName": den}]}


class OlapRead(Workload):
    def setup(self) -> None:
        from druid_hadoop_utils_spark.sources.ingest import publish_segments
        from druid_hadoop_utils_spark.sources.maintenance import drop_interval

        rng = np.random.default_rng(self.seed)
        countries = np.array([f"C{i:03d}" for i in rng.permutation(N_COUNTRIES)])
        base = _rows(rng, rng.integers(0, DAYS * 86400, N_ROWS), countries)
        re_days = np.sort(rng.choice(DAYS, int(DAYS * REPUBLISH_SHARE), replace=False))
        dropped = np.sort(rng.choice(np.setdiff1d(np.arange(DAYS), re_days),
                                     DROPPED_DAYS, replace=False))
        per_day = N_ROWS // DAYS
        re_secs = np.repeat(re_days, per_day) * 86400 + rng.integers(
            0, 86400, per_day * len(re_days))
        republished = _rows(rng, re_secs, countries)
        self.countries = countries
        self.visible_days = [d for d in range(DAYS) if d not in set(dropped)]
        self.fingerprint = fingerprint(
            *[base.column(c).to_numpy() for c in base.column_names],
            *[republished.column(c).to_numpy() for c in republished.column_names],
            dropped)

        raw = os.path.join(self.work, "raw")
        os.makedirs(raw)
        base_path = os.path.join(raw, "base.parquet")
        re_path = os.path.join(raw, "republished.parquet")
        pq.write_table(base, base_path)
        pq.write_table(republished, re_path)
        self.root = os.path.join(self.work, "table")
        spark = self.spark
        publish_segments(spark.read.parquet(base_path), self.root, DS, version="v1")
        publish_segments(spark.read.parquet(re_path), self.root, DS, version="v2")
        for d in dropped:
            day = YEAR_START + timedelta(days=int(d))
            drop_interval(self.root, DS, f"{_iso(day)}/{_iso(day + timedelta(days=1))}")

        def days_sql(days):
            return ", ".join(f"DATE '{(YEAR_START + timedelta(days=int(d))):%Y-%m-%d}'"
                             for d in days) or "NULL"

        self.db = duckdb.connect()
        self.db.execute(f"""CREATE VIEW ev AS
            SELECT * FROM '{base_path}'
             WHERE CAST(__time AS DATE) NOT IN ({days_sql(list(re_days) + list(dropped))})
            UNION ALL
            SELECT * FROM '{re_path}'
             WHERE CAST(__time AS DATE) NOT IN ({days_sql(dropped)})""")

    def warm_ops(self) -> list[Op]:
        """Every template over the whole month (it holds every dropped and
        re-published day, so tombstones and overshadowing are inside the
        checked window) and the ``short`` templates over one day: warms
        the JVM and the Python workers, and is the set of instances
        checked against DuckDB."""
        rng = np.random.default_rng([self.seed, 1])
        return ([self._op(t, rng, 0, oracle=True) for t in SCANS]
                + [self._op(t, rng, DAYS, oracle=True) for t in SCANS + SKETCHES])

    def discard(self) -> None:
        if getattr(self, "db", None) is not None:
            self.db.close()
            self.db = None
        super().discard()

    # ------------------------------------------------------------ stream

    def batches(self):
        rng = np.random.default_rng([self.seed, 2])
        scan = sketch = 0
        while True:
            batch = []
            for kind in ROTATION:
                if kind == "scan":
                    batch.append(self._op(SCANS[scan % len(SCANS)], rng,
                                          SPANS[scan % len(SPANS)]))
                    scan += 1
                elif kind == "sketch":
                    batch.append(self._op(SKETCHES[sketch % len(SKETCHES)], rng,
                                          SPANS[sketch % len(SPANS)]))
                    sketch += 1
                else:
                    batch.append(self._op(kind, rng, 0))
            yield batch

    def _op(self, kind: str, rng: np.random.Generator, days: int,
            oracle: bool = False) -> Op:
        """``days`` 0: one visible day (the ``short`` class for T*)."""
        if days:
            lo = YEAR_START + timedelta(days=int(rng.integers(0, DAYS - days + 1)))
            hi = lo + timedelta(days=days)
        else:
            lo = YEAR_START + timedelta(days=int(rng.choice(self.visible_days)))
            hi = lo + timedelta(days=1)
        et = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
        top = [str(c) for c in self.countries[:8]]
        picks = [top[i] for i in rng.choice(len(top), 3, replace=False)]
        cls = "sketch" if kind in SKETCHES else ("scan" if days else "short")
        name = f"{kind}_{cls}"
        if kind == "K4":
            return self._kll_op(name, cls, lo, hi, oracle)
        query, sql, check = getattr(self, f"_{kind}")(lo, hi, et, picks,
                                                      "HOUR" if cls == "short" else "DAY")
        query = {"dataSource": DS, "intervals": [f"{_iso(lo)}/{_iso(hi)}"], **query}
        return self._query_op(name, cls, query, sql if oracle else None, check)

    def _where(self, lo, hi, extra: str = "") -> str:
        return (f"__time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)}"
                + (f" AND ({extra})" if extra else ""))

    # ------------------------------------------------- query templates

    def _T1(self, lo, hi, et, picks, gran):
        """timeseries, zero-filled buckets, AND/NOT/IN filter, post-agg."""
        q = {"queryType": "timeseries", "granularity": gran,
             "filter": {"type": "and", "fields": [
                 {"type": "not", "field": {"type": "selector", "dimension": "event_type",
                                           "value": et}},
                 {"type": "in", "dimension": "country", "values": picks}]},
             "aggregations": [
                 {"type": "count", "name": "n"},
                 {"type": "doubleSum", "name": "value_sum", "fieldName": "value"},
                 {"type": "longSum", "name": "bytes_sum", "fieldName": "bytes"}],
             "postAggregations": [_ratio("value_avg", "value_sum", "n")]}
        in_list = ", ".join(f"'{c}'" for c in picks)
        where = self._where(lo, hi, f"NOT event_type = '{et}' AND country IN ({in_list})")
        sql = f"""
            WITH b AS (SELECT unnest(generate_series({_sql_ts(lo)},
                           {_sql_ts(hi)} - INTERVAL 1 {gran}, INTERVAL 1 {gran})) AS __time),
                 a AS (SELECT CAST(date_trunc('{gran.lower()}', __time) AS TIMESTAMP)
                              AS __time, count(*) AS n, sum(value) AS value_sum,
                              sum(bytes) AS bytes_sum
                       FROM ev WHERE {where} GROUP BY 1)
            SELECT b.__time, coalesce(n, 0) AS n, coalesce(value_sum, 0.0) AS value_sum,
                   coalesce(bytes_sum, 0) AS bytes_sum,
                   CASE WHEN coalesce(n, 0) = 0 THEN 0.0 ELSE value_sum / n END AS value_avg
            FROM b LEFT JOIN a USING (__time)"""
        return q, sql, None

    def _T2(self, lo, hi, et, picks, gran):
        """topN over the whole interval, NOT filter, ties by dimension."""
        q = {"queryType": "topN", "granularity": "all", "dimension": "country",
             "metric": "bytes_sum", "threshold": 10,
             "filter": {"type": "not", "field": {"type": "selector",
                                                 "dimension": "event_type", "value": et}},
             "aggregations": [
                 {"type": "longSum", "name": "bytes_sum", "fieldName": "bytes"},
                 {"type": "doubleSum", "name": "value_sum", "fieldName": "value"}]}
        sql = (f"SELECT {EPOCH} AS __time, country, sum(bytes) AS bytes_sum, "
               f"sum(value) AS value_sum FROM ev "
               f"WHERE {self._where(lo, hi, f'NOT event_type = {et!r}')} "
               "GROUP BY country ORDER BY bytes_sum DESC, country LIMIT 10")
        return q, sql, None

    def _T3(self, lo, hi, et, picks, gran):
        """groupBy two dimensions, IN filter, post-aggregation."""
        q = {"queryType": "groupBy", "granularity": "all",
             "dimensions": ["event_type", "country"],
             "filter": {"type": "in", "dimension": "country", "values": picks},
             "aggregations": [
                 {"type": "count", "name": "n"},
                 {"type": "doubleSum", "name": "value_sum", "fieldName": "value"},
                 {"type": "doubleSum", "name": "fvalue_sum", "fieldName": "fvalue"},
                 {"type": "doubleMax", "name": "value_max", "fieldName": "value"}],
             "postAggregations": [_ratio("value_per_fvalue", "value_sum", "fvalue_sum")]}
        in_list = ", ".join(f"'{c}'" for c in picks)
        sql = (f"SELECT {EPOCH} AS __time, event_type, country, count(*) AS n, "
               "sum(value) AS value_sum, sum(fvalue) AS fvalue_sum, "
               "max(value) AS value_max, CASE WHEN sum(fvalue) = 0 THEN 0.0 "
               "ELSE sum(value) / sum(fvalue) END AS value_per_fvalue FROM ev "
               f"WHERE {self._where(lo, hi, f'country IN ({in_list})')} GROUP BY ALL")
        return q, sql, None

    def _K1(self, lo, hi, et, picks, gran):
        q = {"queryType": "timeseries", "granularity": "all",
             "aggregations": [
                 {"type": "count", "name": "n"},
                 {"type": "hyperUnique", "name": "users_hll", "fieldName": "user_id"},
                 {"type": "cardinality", "name": "users_card", "fieldNames": ["user_id"]}]}
        sql = (f"SELECT count(*) AS n, count(DISTINCT user_id) AS users FROM ev "
               f"WHERE {self._where(lo, hi)}")

        def check(rows, oracle):
            (n, users), = oracle
            (r,) = rows
            if r["n"] != n:
                return f"count {r['n']} != {n}"
            for name in ("users_hll", "users_card"):
                if abs(r[name] - users) > HLL_REL_ERR * users:
                    return f"{name} {r[name]:.0f} vs exact {users} beyond {HLL_REL_ERR:.0%}"
            return None
        return q, sql, check

    def _K2(self, lo, hi, et, picks, gran):
        q = {"queryType": "groupBy", "granularity": "all", "dimensions": ["event_type"],
             "aggregations": [
                 {"type": "thetaSketch", "name": "users_theta", "fieldName": "user_id"}]}
        sql = (f"SELECT event_type, count(DISTINCT user_id) AS users FROM ev "
               f"WHERE {self._where(lo, hi)} GROUP BY ALL")

        def check(rows, oracle):
            exact = dict(oracle)
            got = {r["event_type"]: r["users_theta"] for r in rows}
            if set(got) != set(exact):
                return f"groups {sorted(got)} != {sorted(exact)}"
            for k, users in exact.items():
                if abs(got[k] - users) > THETA_REL_ERR * users:
                    return f"theta {k} {got[k]:.0f} vs exact {users} beyond {THETA_REL_ERR:.0%}"
            return None
        return q, sql, check

    def _K3(self, lo, hi, et, picks, gran):
        q = {"queryType": "timeseries", "granularity": "all",
             "aggregations": [{"type": "approxHistogramFold", "name": "value_hist",
                               "fieldName": "value", "lowerLimit": 0.0,
                               "upperLimit": 1000.0, "numBuckets": HIST_BINS}],
             "postAggregations": [
                 {"type": "quantile", "name": "p50", "fieldName": "value_hist",
                  "probability": 0.5},
                 {"type": "quantile", "name": "p90", "fieldName": "value_hist",
                  "probability": 0.9}]}
        sql = (f"SELECT quantile_disc(value, 0.5), quantile_disc(value, 0.9) FROM ev "
               f"WHERE {self._where(lo, hi)}")
        width = 1000.0 / HIST_BINS

        def check(rows, oracle):
            (e50, e90), = oracle
            (r,) = rows
            for name, exact in (("p50", e50), ("p90", e90)):
                if abs(r[name] - exact) > width:
                    return f"{name} {r[name]} vs exact {exact} beyond one bin ({width})"
            return None
        return q, sql, check

    # ------------------------------------------------------------ ops

    def _query_op(self, name: str, cls: str, query: dict, sql: str | None,
                  check) -> Op:
        """``sql`` set: compare the result with DuckDB (exactly, or with
        ``check`` for sketches)."""
        from druid_hadoop_utils_spark import api

        def run():
            df = api.druid_query(self.spark, self.root, query)
            with self.tracer.span("api.execute", "api"):
                return self._finish(df, sql is not None)

        def verify(out):
            if self.tracer.enabled:
                self._count_pruning(query)
            if sql is None:
                return None
            df, rows = out
            if check is not None:
                return check(rows, self.db.execute(sql).fetchall())
            cur = self.db.execute(sql)
            return compare_rows([tuple(r) for r in rows], df.columns,
                                cur.fetchall(), [d[0] for d in cur.description])

        return Op(name, cls, run, verify, rows_digest)

    def _kll_op(self, name: str, cls: str, lo, hi, oracle: bool) -> Op:
        from pyspark.sql import functions as F

        from druid_hadoop_utils_spark.functions import kll
        from druid_hadoop_utils_spark.plans import planner

        spec = {"granularity": "NONE", "dimensions": ["event_type"],
                "metrics": [{"name": "value", "type": "double"}]}
        interval = f"{_iso(lo)}/{_iso(hi)}"

        def run():
            df = planner.load(self.spark, self.root, spec, interval=interval,
                              data_source=DS)
            df = df.withColumn("__day", F.to_date("__time"))
            states = kll.kll_state_grouped(df, "value", ["event_type", "__day"], k=256)
            merged = kll.merge_kll_states(states.drop("__day"), ["event_type"])
            out = kll.kll_quantiles(merged, ["event_type"], [0.5, 0.9])
            with self.tracer.span("api.execute", "api"):
                return self._finish(out, oracle)

        def verify(out):
            if not oracle:
                return None
            out, rows = out
            values = {}
            for et, v in self.db.execute(
                    f"SELECT event_type, list(value ORDER BY value) FROM ev "
                    f"WHERE {self._where(lo, hi)} GROUP BY ALL").fetchall():
                values[et] = np.asarray(v)
            if {r["event_type"] for r in rows} != set(values):
                return "KLL groups differ from the raw rows' groups"
            qcols = [c for c in out.columns if c != "event_type"]
            for r in rows:
                v = values[r["event_type"]]
                for q, c in zip((0.5, 0.9), qcols):
                    rank = np.searchsorted(v, r[c], side="right") / len(v)
                    if abs(rank - q) > KLL_RANK_ERR:
                        return f"KLL {c} rank {rank:.3f} vs {q} beyond {KLL_RANK_ERR}"
            return None

        return Op(name, cls, run, verify, rows_digest)

    def _count_pruning(self, query: dict) -> None:
        """Counting-only: how many visible segments the query's DimFilter
        prunes by manifest stats (``explain_pruning``, no Spark job)."""
        from druid_hadoop_utils_spark.plans.pruning import explain_pruning

        report = explain_pruning(self.root, DS, query["intervals"], query.get("filter"))
        self.tracer.count("plans.pruning.segments_considered", len(report))
        self.tracer.count("plans.pruning.segments_pruned",
                          sum(1 for r in report if r["pruned"]))

    def detail_metrics(self, samples: dict[str, list[float]]) -> dict:
        out = {}
        for name, cls, q in (("short_query_p50_s", "short", 0.5),
                             ("short_query_p90_s", "short", 0.9),
                             ("scan_query_p50_s", "scan", 0.5),
                             ("sketch_query_p50_s", "sketch", 0.5)):
            v = samples.get(cls)
            if v:
                out[name] = {"value": round(percentile(v, q), 4), "unit": "s", "n": len(v)}
        return out
