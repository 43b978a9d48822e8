"""Segment-timeline-keyed query result cache for managed tables.

Druid brokers/historicals cache query results keyed by (segment id,
query fingerprint) so a repeated dashboard query never re-reads data
that has not changed. This is the Spark-first analog at the driver's
planning altitude: the WHOLE visible timeline is one version stamp
(``sources.segments.timeline_version`` — md5 of the sorted manifest
identifiers), and a result is cached as parquet under

    <table_root>/<data_source>/_result_cache/<query_key>/<timeline_version>/

Any publish / compaction / drop / retention sweep / vacuum changes the
timeline stamp, so a stale entry is simply never read again — the same
staleness contract the persisted ANN index uses
(operators/similarity.py:595). ``vacuum_result_cache`` reclaims entries
whose stamp no longer matches.

Why this shape at 100 TB:

- **Zero data scanned on a hit**: the hit path lists one manifest
  directory (driver-side metadata) and reads a small parquet result —
  the raw table is never touched.
- **Correctness is structural, not TTL-based**: the stamp derives from
  the manifest set, so there is no window where a cache serves rows that
  a new publish superseded. A cache that can silently serve stale
  aggregates is worse than no cache.
- **Results, not segments, are cached**: the reference engine's workflow
  (batch export jobs re-running the same native query per run,
  druid_exporter.pig:6-17) repeats IDENTICAL queries against a
  slowly-changing table — exactly the hit pattern result-level caching
  wants. Per-segment partial caching is the finer variant; this engine's
  per-segment MATERIALIZED STATES (sources/materialize.py) already play
  that role for rollups.

The cache key strips the query's ``context`` (execution hints never
change the result — same rule as Druid's cache key) and hashes the
canonical JSON of everything else plus the dataSource.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession

from druid_hadoop_utils_spark.sources.segments import timeline_version

CACHE_DIR = "_result_cache"


def query_cache_key(query: dict, data_source: str) -> str:
    """Deterministic fingerprint of a native query against a datasource.
    ``context`` is excluded: it carries execution hints (priority,
    useCache, useMaterialized) that must not change the result."""
    q = {k: v for k, v in query.items() if k != "context"}
    blob = json.dumps({"dataSource": data_source, "query": q},
                      sort_keys=True, separators=(",", ":"), default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:24]


def _entry_dir(table_root: str, data_source: str, key: str, version: str) -> str:
    return os.path.join(table_root, data_source, CACHE_DIR, key, version)


def cached_druid_query(
    spark: SparkSession,
    table_root: str,
    data_source: str | None,
    query: dict | str,
    refresh: bool = False,
    time_column: str = "__time",
) -> DataFrame:
    """Run a native Druid query JSON through the result cache: on a hit
    (same query fingerprint AND same segment timeline) the result parquet
    is read back without touching the table; on a miss the query executes
    via ``api.druid_query`` and the result is persisted atomically for
    the next caller. ``refresh=True`` recomputes and overwrites.

    The returned DataFrame always reads from the cache entry (also right
    after a miss), so hit and miss paths have identical schemas —
    timestamps are pinned to TIMESTAMP_MICROS at write for that reason
    (NOTES.md testdata-format section).

    The cache is for AGGREGATE-SHAPED results: the entry stores the full
    result at the query's own selectivity. The returned frame is lazy,
    so filters/limits composed on top still prune the cached parquet
    scan via Catalyst — but a cached full-selectivity ``scan`` query
    would persist (and on a naive read, re-read) everything; cache
    aggregates, not raw scans.
    """
    from druid_hadoop_utils_spark.api import druid_query

    q = json.loads(query) if isinstance(query, str) else dict(query)
    ds = data_source or q.get("dataSource")
    if not isinstance(ds, str):
        raise ValueError(
            "cached_druid_query needs a plain string dataSource — nested "
            "query/union dataSources compose ABOVE the cache (cache the "
            "members)"
        )
    from druid_hadoop_utils_spark.sources.fs import (
        get_fs,
        publish_parquet_dir,
        remove_published_dir,
        resolve_parquet_dir,
    )

    fs = get_fs(table_root)
    if isinstance(q.get("asOf"), str):
        # a "tag:<name>" asOf resolves to its pinned instant BEFORE the
        # fingerprint: a tag moved with replace=True changes the key, so
        # a re-created tag can never serve the old view from the cache
        from druid_hadoop_utils_spark.sources.segments import resolve_as_of

        q["asOf"] = resolve_as_of(table_root, ds, q["asOf"])
    key = query_cache_key(q, ds)
    version = timeline_version(table_root, ds)
    entry = _entry_dir(table_root, ds, key, version)
    if refresh:
        remove_published_dir(fs, entry)
    if resolve_parquet_dir(fs, entry) is None:
        result = druid_query(spark, table_root, q, data_source=ds,
                             time_column=time_column)
        conf = spark.conf
        prev = conf.get("spark.sql.parquet.outputTimestampType", None)

        def _write(url: str) -> None:
            try:
                conf.set("spark.sql.parquet.outputTimestampType",
                         "TIMESTAMP_MICROS")
                result.write.mode("overwrite").parquet(url)
            finally:
                if prev is None:
                    conf.unset("spark.sql.parquet.outputTimestampType")
                else:
                    conf.set("spark.sql.parquet.outputTimestampType", prev)

        fs.mkdirs(fs.parent(entry))
        # the publish protocol (fs.py) handles the concurrent-filler
        # race on both backend families: rename backends keep the
        # winner's entry and discard the loser's tmp (both computed the
        # same (key, timeline) result); pointer backends are
        # last-writer-wins over two complete identical dirs.
        publish_parquet_dir(fs, _write, entry)
        meta = {"dataSource": ds, "query": {k: v for k, v in q.items()
                                            if k != "context"}}
        meta_path = fs.join(table_root, ds, CACHE_DIR, key, "query.json")
        if not fs.exists(meta_path):
            fs.put_text(meta_path, json.dumps(meta, indent=2, default=str))
    resolved = resolve_parquet_dir(fs, entry)
    if resolved is None:
        # a concurrent vacuum/refresh unpublished the entry between the
        # hit check and this read — loud, not a TypeError
        raise FileNotFoundError(
            f"cache entry vanished concurrently: {entry} — retry the call"
        )
    return spark.read.parquet(fs.spark_url(resolved))


def vacuum_result_cache(
    table_root: str, data_source: str, dry_run: bool = False,
    tmp_min_age_s: float = 6 * 3600,
) -> list[str]:
    """Drop every cache entry whose timeline stamp differs from the
    CURRENT timeline (superseded by later publishes) — the reclamation
    half of the lifecycle, same contract as ``vacuum_materialized``.
    Also reclaims in-flight writer garbage (crashed fillers' tmp dirs,
    pointer-protocol race losers), but ONLY past an mtime age floor
    (``tmp_min_age_s``, default 6 h): a live filler that started before
    the timeline moved must not have its write yanked mid-flight.
    Returns the removed (or would-remove) entry paths."""
    import time

    from druid_hadoop_utils_spark.sources.fs import (
        get_fs,
        old_enough,
        published_entries,
        remove_published_dirs,
    )

    fs = get_fs(table_root)
    current = timeline_version(table_root, data_source)
    root = fs.join(table_root, data_source, CACHE_DIR)
    removed: list[str] = []
    stale_entries: list[str] = []  # published entries → bulk unpublish
    garbage_dirs: list[str] = []   # writer garbage → bulk delete

    for key in fs.ls(root):
        kdir = fs.join(root, key)
        if not fs.isdir(kdir):
            continue
        committed = published_entries(fs, kdir)
        kept_targets = {fs.name(p) for v, p in committed.items()
                        if v == current}
        for version in sorted(committed):
            if version == current:
                continue
            removed.append(fs.join(kdir, version))
            stale_entries.append(fs.join(kdir, version))
        # writer garbage, age-gated: rename backends leave
        # '<version>.tmp-<pid>' dirs when a filler crashes; pointer
        # backends leave unreferenced token dirs (race losers, crashed
        # fillers)
        for n in fs.ls(kdir):
            p = fs.join(kdir, n)
            if not fs.isdir(p) or n in kept_targets:
                continue
            logical = n.rsplit(".", 1)[0] if "." in n else n
            if logical == current or logical in committed:
                continue
            if fs.atomic_dir_rename and ".tmp-" not in n:
                continue  # committed dirs were handled above
            if not old_enough(fs, p, tmp_min_age_s):
                continue
            removed.append(p)
            garbage_dirs.append(p)
    if not dry_run:
        # one pool-parallel reclamation pass instead of per-entry
        # round-trips (fs.py bulk contract)
        remove_published_dirs(fs, stale_entries)
        fs.delete_dirs(garbage_dirs)
    return removed
