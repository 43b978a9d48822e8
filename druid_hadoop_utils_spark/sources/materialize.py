"""Per-segment aggregate-state materialization — incremental rollup
maintenance for managed segment tables.

Druid rolls up at INGESTION time (the reference's segments carry
pre-aggregated metrics — note:1-5, sample-schema.json:4-7); this module
is the lazy Spark-first equivalent: rollup states are computed PER
SEGMENT, on demand, into small parquet files beside the table
(`<root>/<ds>/_materialized/<name>/`), and a query over the rollup
merges the per-segment states instead of rescanning raw rows.

Why this is the shape you want at 100 TB:

- **Incremental**: `materialize_aggs` skips every segment that already
  has a state file — a new day's publish costs one segment's scan, never
  a table rescan. The segment IDENTIFIER keys the state file, so
  overshadowed versions' states are simply never read again (and
  `vacuum_materialized` reclaims them).
- **Mergeable states only**: sums/counts/min/max re-aggregate exactly;
  hyperUnique/thetaSketch states union losslessly (the reference's
  NonFinalizing → merge → Finalizing chain, DruidStorage.java:142-151,
  AggregatorFactoryAdapter lineage). Aggregators whose states do NOT
  merge associatively (first/last, quantile sketches in this grammar)
  are rejected loudly — a silent wrong merge is the one unforgivable
  failure mode for a rollup cache.
- **Sound under MVCC**: the query path resolves the CURRENT visible
  timeline, then maps each visible segment to its state file. A segment
  that is only PARTIALLY visible (a newer version overshadows part of
  its interval) makes its whole-segment state unusable — the query
  refuses loudly (compact the table; states for the compacted segments
  then materialize cleanly) rather than over-counting.
- **One read path**: `query_materialized` and the transparent groupBy
  rewrite `api.druid_query` calls (`rewrite_groupby_from_states`)
  resolve the visible state files through ONE MVCC resolver
  (`_resolve_state_paths`) and compile the merge as ONE Spark SQL
  statement over them (`sqltext.sql_over` + `group_aggregate_sql`, the
  compiler the raw-scan groupBy uses) — a constant number of py4j round
  trips however many aggregators, filters or post-aggregators the query
  carries.

Granularity caveat: states are bucketed by `granularity` at materialize
time; a query interval is applied to the BUCKET timestamps, so it must
align with bucket boundaries to mean what it says (same contract as
querying any rolled-up Druid datasource at coarser-than-bucket
granularity).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.functions.granularity import BUCKET_SECONDS
from druid_hadoop_utils_spark.functions.sqltext import ident, sql_over
from druid_hadoop_utils_spark.intervals import Interval

#: aggregator types whose partial states re-aggregate associatively with
#: the SAME grammar (count re-merges as longSum — Druid's standard
#: count-becomes-longSum-on-rollup rule, applied automatically).
#: approxHistogram states are self-describing structs that agg_expr
#: re-merges element-wise; `filtered` is mergeable iff its inner
#: aggregator is (the filter applied at materialize time, the state
#: merging like the inner type).
MERGEABLE_TYPES = frozenset({
    "count", "longSum", "doubleSum", "longMin", "longMax",
    "doubleMin", "doubleMax", "hyperUnique", "thetaSketch",
    "approxHistogram", "approxHistogramFold",
})


#: the whole timeline — the window of the full lazy passes and of a
#: state read without an interval
_ETERNITY = Interval.parse("0001-01-01T00:00:00/9999-12-31T00:00:00")


def _mat_dir(table_root: str, data_source: str, name: str) -> str:
    return os.path.join(table_root, data_source, "_materialized", name)


def _state_path(mat_dir: str, identifier: str) -> str:
    from druid_hadoop_utils_spark.sources.segments import _safe

    return os.path.join(mat_dir, f"{_safe(identifier)}.parquet")


def _mergeable(a: dict) -> bool:
    t = a.get("type")
    if t == "filtered":
        inner = a.get("aggregator") or {}
        return inner.get("type") in MERGEABLE_TYPES
    return t in MERGEABLE_TYPES


def _validate_aggs(aggregations: list[dict]) -> None:
    bad = [a for a in aggregations if not _mergeable(a)]
    if bad:
        raise ValueError(
            "materialize_aggs: non-mergeable aggregator types "
            f"{sorted({a.get('type') for a in bad})} — per-segment states "
            "must re-aggregate associatively; supported: "
            f"{sorted(MERGEABLE_TYPES)} plus `filtered` wrapping any of "
            "them (first/last need time-ordered merges — query those "
            "through load()/group_aggregate on raw rows)"
        )


def _merge_aggregations(aggregations: list[dict]) -> list[dict]:
    """The query-side re-aggregation spec over state columns: count
    re-merges as longSum of the stored counts; a `filtered` wrapper
    merges as its INNER type (the filter already applied at materialize
    time); everything else keeps its type with fieldName = its own output
    name. Parameterized factories (thetaSketch size, approxHistogram
    numBuckets/probability) keep their params so the merge and the final
    quantile evaluation read the stored state correctly."""
    from druid_hadoop_utils_spark.functions.aggregators import agg_out_name

    out = []
    for a in aggregations:
        n = agg_out_name(a)
        base = a.get("aggregator") if a.get("type") == "filtered" else a
        t = "longSum" if base.get("type") == "count" else base["type"]
        merged = {k: v for k, v in base.items() if k != "filter"}
        merged.update({"type": t, "name": n, "fieldName": n})
        out.append(merged)
    return out


def materialize_aggs(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str,
    dimensions: list[str],
    aggregations: list[dict],
    granularity: str | dict = "DAY",
    time_column: str = "__time",
) -> list[str]:
    """Ensure every VISIBLE segment has a rollup-state file for ``name``.

    Returns the identifiers actually computed this call (already-covered
    segments are skipped — the incremental-maintenance contract). The
    spec is persisted beside the states; re-calling with a DIFFERENT
    spec under the same name is refused (pick a new name)."""
    _validate_aggs(aggregations)
    spec = {
        "dimensions": list(dimensions),
        "aggregations": aggregations,
        "granularity": granularity,
        "time_column": time_column,
    }
    return _materialize_generic(spark, table_root, data_source, name, spec)


def materialize_signatures(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> list[str]:
    """Ensure every VISIBLE segment has a minhash SIGNATURE file for
    ``name`` — the managed-table form of
    ``operators.dedup.signature_manifest``: one (id, signature) parquet
    per segment under ``_materialized/<name>/``, built incrementally
    (only segments without a file compute), caught up O(affected) by
    the same commit-driven pending markers as rollup states, and
    reclaimed by ``vacuum_materialized``. ``read_signatures`` unions
    the visible segments' files into the manifest
    ``incremental_neardup_pairs`` consumes — so each crawl increment
    near-dedups against the WHOLE corpus history at the cost of the
    new segments' shingling plus a signature-table band join, never a
    re-read of historical text."""
    spec = {
        "kind": "signatures",
        "id_col": id_col,
        "text_col": text_col,
        "shingle_n": shingle_n,
        "num_hashes": num_hashes,
        "seed": seed,
    }
    return _materialize_generic(spark, table_root, data_source, name, spec)


def materialize_postings(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str,
    index: dict | str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[str]:
    """Ensure every VISIBLE segment has an IVF POSTINGS file for
    ``name``: ``(id, vector, __cell)`` rows, cell = the vector's single
    nearest centroid of the table's published ANN index. The classic
    IVF storage layout through the shared incremental scaffold — only
    segments without a file compute, commit-driven catch-up and
    ``vacuum_materialized`` apply unchanged.

    Why at 100 TB: ``ivf_topk`` assigns every corpus vector to its
    cell AT QUERY TIME — a full-corpus Arrow pass per query batch.
    Postings move that pass to publish time; ``ivf_topk_from_postings``
    then joins the broadcast query probes straight against the stored
    cells, so query cost is the candidate volume, never the corpus.

    Postings bind to the CENTROID VALUES (content hash in the spec),
    not the index's corpus_version stamp — so a drift-tolerant
    re-stamp (``refresh_ann_index(max_drift_fraction=)``) keeps them
    valid, while an actual retrain makes build and read refuse loudly
    (materialize under a new name after retraining)."""
    from druid_hadoop_utils_spark.operators.similarity import (
        ann_index_path,
        centroid_hash,
        load_ann_index,
    )

    if index is None:
        index = ann_index_path(table_root, data_source)
    if isinstance(index, str):
        idx_path, idx = index, load_ann_index(index)
    else:
        # an in-memory artifact must still be readable at BUILD time by
        # later incremental passes — require the published convention
        idx_path = ann_index_path(table_root, data_source)
        idx = index
    spec = {
        "kind": "ivf_postings",
        "id_col": id_col,
        "vec_col": vec_col,
        "n_cells": int(idx["n_cells"]),
        "index_path": idx_path,
        "centroid_hash": centroid_hash(idx["centroids"]),
    }
    return _materialize_generic(spark, table_root, data_source, name, spec)


def _compact_postings_entry(token: str) -> str:
    return f"_compact.{token}.parquet"


def _union_postings(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One scan per segment's postings dir, unioned by name. Each dir is
    its own ``__cell=N``-partitioned tree, and Spark's partition
    discovery cannot merge several partitioned roots in one read
    (CONFLICTING_DIRECTORY_STRUCTURES); each scan still partition-prunes
    on a probed-cell IN filter. ``compact_postings`` collapses this to
    ONE scan for many-segment tables."""
    from functools import reduce

    return reduce(DataFrame.unionByName,
                  (spark.read.parquet(p) for p in paths))


def compact_postings(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str,
) -> str:
    """Rewrite the visible segments' per-segment postings as ONE
    cell-partitioned tree, named by the table's CURRENT
    ``timeline_version`` — the plan-size cap for many-segment tables:
    ``read_postings`` on a 1000-segment table otherwise unions 1000
    scans (Spark cannot merge multiple partitioned roots in one read).

    MVCC by construction: the timeline version is the md5 of the
    visible manifest identifiers, so ANY publish/DML/compaction/
    retention change makes the compact tree's name stale and readers
    fall back to the per-segment union (always correct) until the next
    ``compact_postings``. Idempotent — an already-current tree is
    returned without rewriting. ``vacuum_materialized`` reclaims stale
    trees. One distributed rewrite job (repartition on __cell), no
    driver-side row handling."""
    from druid_hadoop_utils_spark.sources.fs import (
        get_fs,
        publish_parquet_dir,
        resolve_parquet_dir,
    )
    from druid_hadoop_utils_spark.sources.segments import (
        list_manifests,
        timeline_version_of,
    )

    fs = get_fs(table_root)
    # ONE manifest listing feeds BOTH the tree's name (timeline version)
    # and its contents (the visible state paths). Deriving them from
    # separate listings let a publish land in between, naming the tree
    # with the NEW version while its contents reflected the OLD visible
    # set — readers would then treat an incomplete tree as current.
    # From one snapshot, a racing publish can only make the tree
    # stale-named; readers fall back to the per-segment union.
    manifests = list_manifests(table_root, data_source)
    spec, paths = _resolve_state_paths(fs, table_root, data_source, name,
                                       manifests=manifests)
    if spec.get("kind") != "ivf_postings":
        raise ValueError(
            f"materialization {name!r} is kind="
            f"{spec.get('kind', 'rollup')!r}, not ivf_postings"
        )
    if not paths:
        raise FileNotFoundError(
            f"no visible postings states for {data_source} — nothing to "
            "compact (all segments dropped or tombstoned)"
        )
    mdir = _mat_dir(table_root, data_source, name)
    token = timeline_version_of(manifests)
    target = fs.join(mdir, _compact_postings_entry(token))
    existing = resolve_parquet_dir(fs, target)
    if existing is not None:
        return target
    union = _union_postings(spark, paths)
    publish_parquet_dir(
        fs,
        lambda url: (union.repartition("__cell")
                     .write.mode("overwrite")
                     .partitionBy("__cell").parquet(url)),
        target,
    )
    return target


def read_postings(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str,
) -> DataFrame:
    """The table's IVF postings, assembled from the visible segments'
    files — feed to ``operators.similarity.ivf_topk_from_postings``.
    Same MVCC contract as ``read_signatures`` (overshadowed segments
    never read, missing states refuse loudly) PLUS a centroid-identity
    check: if the published index was RETRAINED since these postings
    were built, reading refuses — stale cell assignments would silently
    wreck recall. A drift-tolerant re-stamp keeps the same centroids
    and passes."""
    from druid_hadoop_utils_spark.operators.similarity import (
        centroid_hash,
        load_ann_index,
    )

    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    spec, paths = _resolve_state_paths(fs, table_root, data_source, name)
    if spec.get("kind") != "ivf_postings":
        raise ValueError(
            f"materialization {name!r} is kind="
            f"{spec.get('kind', 'rollup')!r}, not ivf_postings"
        )
    idx = load_ann_index(spec["index_path"])
    if centroid_hash(idx["centroids"]) != spec["centroid_hash"]:
        raise ValueError(
            f"postings {name!r} were built against different centroids "
            f"than the index now at {spec['index_path']} (it was "
            "retrained) — rebuild with materialize_postings under a new "
            "name"
        )
    # fast path: a CURRENT compact tree (compact_postings) is one scan
    # for the whole corpus — its name carries the timeline version, so
    # currency is one path probe, and any table change since compaction
    # silently falls back to the always-correct per-segment union
    from druid_hadoop_utils_spark.sources.fs import resolve_parquet_dir
    from druid_hadoop_utils_spark.sources.segments import timeline_version

    mdir = _mat_dir(table_root, data_source, name)
    token = timeline_version(table_root, data_source)
    compact = resolve_parquet_dir(
        fs, fs.join(mdir, _compact_postings_entry(token)))
    if compact is not None:
        return spark.read.parquet(fs.spark_url(compact))
    return _union_postings(spark, paths)


def _materialize_generic(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str,
    spec: dict,
) -> list[str]:
    """The shared incremental-materialization scaffold: persist/verify
    the spec, snapshot pending markers, compute only the visible
    segments missing a state file (via the kind-dispatched
    ``_build_states``), then clear the observed markers."""
    from druid_hadoop_utils_spark.sources.segments import (
        list_manifests,
        resolve_visible_windows,
    )

    from druid_hadoop_utils_spark.sources.fs import (
        get_fs,
        resolve_parquet_dir,
    )

    fs = get_fs(table_root)
    mdir = _mat_dir(table_root, data_source, name)
    fs.mkdirs(mdir)
    spec_path = fs.join(mdir, "spec.json")
    if fs.exists(spec_path):
        existing = json.loads(fs.read_text(spec_path))
        if existing != spec:
            raise ValueError(
                f"materialization {name!r} already exists with a "
                "different spec — states built under two specs must never "
                "merge; materialize under a new name"
            )
    else:
        fs.put_text(spec_path, json.dumps(spec, indent=2))
        # a NEW materialization exists: same-process announce paths must
        # see it immediately (the TTL cache is for the no-rollups hot path)
        _ROLLUP_NAMES_CACHE.pop((table_root, data_source), None)

    # snapshot the pending markers BEFORE the timeline listing: this
    # pass guarantees coverage only for the snapshot it builds from, so
    # only markers that existed before it may be cleared — a commit
    # landing mid-pass writes a marker for a segment this pass never
    # saw, and wiping it would permanently drop that segment from the
    # commit-driven path (round-12 review catch)
    pdir = _pending_dir(mdir)
    pre_markers = [m for m in fs.ls(pdir) if m.endswith(".json")]
    manifests = list_manifests(table_root, data_source)
    visible = resolve_visible_windows(manifests, _ETERNITY)
    targets = [
        w for w in visible
        if not w.manifest.tombstone
        and resolve_parquet_dir(
            fs, _state_path(mdir, w.manifest.identifier)) is None
    ]
    done = _build_states(spark, fs, mdir, spec, targets, visible)
    if pre_markers:
        fs.delete_files([fs.join(pdir, m) for m in pre_markers])
    return done


def _build_states(spark, fs, mdir: str, spec: dict, targets, visible):
    """Compute and atomically publish one state file per target window —
    the shared builder behind the full lazy passes and
    ``catch_up_materialized`` (commit-driven, O(affected)). Dispatches
    on the spec's ``kind``: ``rollup`` (default; per-segment
    pre-aggregation states) or ``signatures`` (per-doc minhash
    signatures for incremental near-dedup)."""
    from druid_hadoop_utils_spark.functions.aggregators import group_aggregate
    from druid_hadoop_utils_spark.functions.filters import filter_columns
    from druid_hadoop_utils_spark.functions.granularity import granularity_expr

    from druid_hadoop_utils_spark.sources.fs import publish_parquet_dir
    from druid_hadoop_utils_spark.sources.segments import (
        read_segments,
        segments_schema,
    )

    if spec.get("kind") == "ivf_postings":
        from druid_hadoop_utils_spark.operators.similarity import (
            _cell_assign_udf,
            centroid_hash,
            load_ann_index,
        )

        idx = load_ann_index(spec["index_path"])
        if centroid_hash(idx["centroids"]) != spec["centroid_hash"]:
            raise ValueError(
                "the index at {p} was retrained since this postings "
                "materialization was created — new segments would get "
                "cells from DIFFERENT centroids than the existing "
                "files; materialize under a new name".format(
                    p=spec["index_path"]))
        assign1 = _cell_assign_udf(idx["centroids"], 1)
        done = []
        for w in targets:
            path = _state_path(mdir, w.manifest.identifier)
            seg = spark.read.parquet(w.manifest.path)
            post = seg.select(
                F.col(spec["id_col"]),
                F.col(spec["vec_col"]),
                F.explode(assign1(F.col(spec["vec_col"])))
                .alias("__cell"),
            )
            # CELL-PARTITIONED layout (the IVF point): one __cell=N dir
            # per cell, so a query probing nprobe of n_cells cells reads
            # nprobe/n_cells of the bytes via partition pruning —
            # ivf_topk_from_postings pushes the probed cells as a
            # literal IN filter. Sound for the moderate n_cells this
            # engine trains (≤ ~1k); a 65k-cell index would need
            # packed-by-cell files instead of directories.
            publish_parquet_dir(
                fs,
                lambda url: (post.repartition("__cell")
                             .write.mode("overwrite")
                             .partitionBy("__cell").parquet(url)),
                path,
            )
            done.append(w.manifest.identifier)
        return done

    if spec.get("kind", "rollup") == "signatures":
        from druid_hadoop_utils_spark.operators.dedup import (
            signature_manifest,
        )

        done: list[str] = []
        for w in targets:
            path = _state_path(mdir, w.manifest.identifier)
            seg = spark.read.parquet(w.manifest.path)
            sigs = signature_manifest(
                seg, spec["id_col"], spec["text_col"],
                shingle_n=spec["shingle_n"],
                num_hashes=spec["num_hashes"], seed=spec["seed"],
            )
            publish_parquet_dir(
                fs,
                lambda url: sigs.write.mode("overwrite").parquet(url),
                path,
            )
            done.append(w.manifest.identifier)
        return done

    dimensions = spec["dimensions"]
    aggregations = spec["aggregations"]
    granularity = spec["granularity"]
    time_column = spec["time_column"]

    def _agg_field_refs(aggs: list[dict]) -> set[str]:
        refs: set[str] = set()
        for a in aggs:
            if a.get("fieldName"):
                refs.add(a["fieldName"])
            if a.get("type") == "filtered":
                inner = a.get("aggregator") or {}
                if inner.get("fieldName"):
                    refs.add(inner["fieldName"])
                refs |= set(filter_columns(a.get("filter")))
        return refs

    needed = set(dimensions) | _agg_field_refs(aggregations)
    union_schema = None  # resolved lazily, only when a segment is missing a column
    done: list[str] = []
    for w in targets:
        path = _state_path(mdir, w.manifest.identifier)
        seg = read_segments(spark, [w.manifest.path],
                            segments_schema([w.manifest]))
        # evolving dimensions (Druid semantics, same as the raw-path
        # merged-schema read): a column ADDED in later segment versions is
        # NULL for every row of an older segment — typed from the
        # table-wide merged schema so state files stay union-readable.
        # A column present in NO segment still fails analysis loudly.
        missing = sorted(needed - set(seg.columns))
        if missing:
            if union_schema is None:
                # VISIBLE windows only — an overshadowed old version may
                # carry an incompatible dtype that the raw-path read
                # (which also resolves visibility first) never touches
                live = sorted({v.manifest for v in visible
                               if not v.manifest.tombstone},
                              key=lambda m: m.path)
                union_schema = segments_schema(live) or read_segments(
                    spark, [m.path for m in live], None).schema
            for c in missing:
                if c in union_schema.names:
                    seg = seg.withColumn(
                        c, F.lit(None).cast(union_schema[c].dataType)
                    )
        bucket = granularity_expr(granularity, time_column)
        rolled = group_aggregate(
            seg.withColumn("__time", bucket),
            list(dimensions),
            aggregations,
            finalize=False,
            time_column="__time",
        )
        # atomic publish through the filesystem seam (fs.py): rename
        # backends write a tmp dir and rename (a reader's resolved state
        # is always COMPLETE, a crashed writer leaves only a reclaimable
        # tmp, concurrent materializers race benignly); no-rename
        # backends take the pointer protocol with the same guarantees.
        publish_parquet_dir(
            fs,
            lambda url: rolled.write.mode("overwrite").parquet(url),
            path,
        )
        done.append(w.manifest.identifier)
    return done


# ------------------------------------------------- commit-driven catch-up
#
# After a DML commit the affected buckets carry NEW segment identifiers;
# until their states exist, query_materialized refuses loudly. The lazy
# path (materialize_aggs) rediscovers the gap by probing EVERY visible
# segment's state path — one metadata GET per segment, 10k GETs on a
# 10k-segment table when only two buckets changed. The commit-driven
# path makes catch-up O(affected): the DML commit already KNOWS the
# identifiers it announced and registers them as pending markers under
# each existing rollup (`_materialized/<name>/_pending/<safe-id>.json`);
# catch_up_materialized computes exactly those states. Markers are an
# OPTIMIZATION hint, never load-bearing: a crash between registration
# and marker write just means the lazy full pass covers that segment
# later, and a marker for a since-overshadowed identifier clears
# without work.


def _pending_dir(mdir: str) -> str:
    return os.path.join(mdir, "_pending")


#: per-process cache of each table's rollup names for the marker hook —
#: (table_root, data_source) → (expiry epoch, names). A streamed table
#: calls write_segment once per micro-batch bucket; without the cache
#: every segment write would pay one rollup-discovery LIST even on
#: tables with no rollups at all (the overwhelmingly common case).
#: Staleness is harmless BY DESIGN: markers are an optimization hint —
#: a rollup created inside the TTL window just takes the lazy
#: materialize_aggs pass for segments written in that window.
_ROLLUP_NAMES_TTL_S = 60.0
_ROLLUP_NAMES_CACHE: dict = {}


def _rollup_names(table_root: str, data_source: str) -> list[str]:
    key = (table_root, data_source)
    now = time.time()
    hit = _ROLLUP_NAMES_CACHE.get(key)
    if hit is not None and hit[0] > now:
        return hit[1]
    names = list(list_materializations(table_root, data_source))
    _ROLLUP_NAMES_CACHE[key] = (now + _ROLLUP_NAMES_TTL_S, names)
    return names


def register_pending_states(
    table_root: str, data_source: str, identifiers: list[str]
) -> list[str]:
    """Record just-announced segment identifiers as pending state
    computation for every EXISTING materialized rollup of the table.
    Called after registration by every announce path (DML commits,
    publish_segments, write_segment); cheap — one TTL-cached listing of
    the rollup names + one tiny PUT per (rollup, identifier). No-op
    when the table has no rollups."""
    from druid_hadoop_utils_spark.sources.fs import get_fs
    from druid_hadoop_utils_spark.sources.segments import _safe

    fs = get_fs(table_root)
    base = fs.join(table_root, data_source, "_materialized")
    written: list[str] = []
    for name in _rollup_names(table_root, data_source):
        mdir = fs.join(base, name)
        for seg_id in identifiers:
            p = fs.join(_pending_dir(mdir), _safe(seg_id) + ".json")
            fs.put_text(p, json.dumps({"identifier": seg_id}))
            written.append(p)
    return written


def catch_up_materialized(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str | None = None,
) -> dict[str, list[str]]:
    """Compute rollup states for exactly the segments DML commits
    registered as pending — O(affected) metadata cost (one listing of
    the pending markers + one state-existence probe per MARKED segment),
    never a probe across the whole timeline. Returns ``{rollup name:
    identifiers computed}``. Markers clear when their state exists or
    their identifier is no longer visible (overshadowed again — its
    state will never be queried). The lazy full pass
    (``materialize_aggs``) remains the fallback for anything a crash
    kept out of the marker log."""
    from druid_hadoop_utils_spark.sources.fs import (
        get_fs,
        resolve_parquet_dir,
    )
    from druid_hadoop_utils_spark.sources.segments import (
        _safe,
        list_manifests,
        resolve_visible_windows,
    )

    fs = get_fs(table_root)
    base = fs.join(table_root, data_source, "_materialized")
    specs = list_materializations(table_root, data_source)
    if name is not None:
        if name not in specs:
            raise FileNotFoundError(
                f"no materialized rollup {name!r} for {data_source}")
        specs = {name: specs[name]}
    # ORDER MATTERS: snapshot every rollup's pending markers BEFORE the
    # timeline listing. Markers are written AFTER their registration,
    # so any marker visible now refers to a segment the later manifest
    # listing will include — whereas listing manifests first would let
    # a commit land in between, and its (newer-than-snapshot) marker
    # would be misclassified as overshadowed and deleted without a
    # state, permanently dropping that segment from the commit-driven
    # path (round-12 review catch).
    pending_by_name: dict[str, list[str]] = {}
    for n in specs:
        pdir = _pending_dir(fs.join(base, n))
        pending_by_name[n] = [m for m in fs.ls(pdir)
                              if m.endswith(".json")]
    manifests = list_manifests(table_root, data_source)
    visible = resolve_visible_windows(manifests, _ETERNITY)
    by_safe = {
        _safe(w.manifest.identifier): w
        for w in visible if not w.manifest.tombstone
    }
    out: dict[str, list[str]] = {}
    for n, spec in specs.items():
        mdir = fs.join(base, n)
        pdir = _pending_dir(mdir)
        markers = pending_by_name[n]
        targets = []
        satisfied: list[str] = []
        for marker in markers:
            stem = marker[:-len(".json")]
            w = by_safe.get(stem)
            if w is None:
                # overshadowed since the marker landed: never queryable
                satisfied.append(marker)
                continue
            if resolve_parquet_dir(
                    fs, _state_path(mdir, w.manifest.identifier)) is not None:
                satisfied.append(marker)  # raced another catch-up
                continue
            targets.append((marker, w))
        done = _build_states(spark, fs, mdir, spec,
                             [w for _m, w in targets], visible)
        fs.delete_files([fs.join(pdir, m) for m, _w in targets]
                        + [fs.join(pdir, m) for m in satisfied])
        out[n] = done
    return out


def _resolve_state_paths(
    fs, table_root: str, data_source: str, name: str,
    intervals: list[Interval] | None = None,
    manifests: list | None = None,
    spec: dict | None = None,
) -> tuple[dict, list[str]]:
    """Spec and spark-readable state paths for the VISIBLE segments of a
    materialization in ``intervals`` (default: the whole timeline) — the
    one MVCC resolution behind ``query_materialized``, the groupBy
    rewrite and the signature/postings readers. Partial visibility in any
    interval refuses (a whole-segment file would leak overshadowed rows);
    a missing state refuses naming the catch-up; a segment visible in
    several intervals is read once. ``spec`` / ``manifests`` let a caller
    that already read the spec or listed the timeline reuse them: the
    rewrite lists the timeline once for all its candidate rollups, and
    ``compact_postings`` derives the tree name and contents from the same
    listing, closing the name/content race."""
    from druid_hadoop_utils_spark.sources.fs import resolve_parquet_dir
    from druid_hadoop_utils_spark.sources.segments import (
        list_manifests,
        resolve_visible_windows,
    )

    mdir = _mat_dir(table_root, data_source, name)
    if spec is None:
        spec_path = fs.join(mdir, "spec.json")
        if not fs.exists(spec_path):
            raise FileNotFoundError(
                f"no materialization {name!r} for {data_source} — run "
                "materialize_aggs / materialize_signatures first"
            )
        spec = json.loads(fs.read_text(spec_path))
    ivs = intervals or [_ETERNITY]
    if manifests is None:
        manifests = list_manifests(table_root, data_source)
    paths: list[str] = []
    seen: set[str] = set()
    for iv in ivs:
        for w in resolve_visible_windows(manifests, iv):
            seg_id = w.manifest.identifier
            if w.manifest.tombstone:
                continue
            if not w.is_fully_visible(iv):
                raise ValueError(
                    f"segment {seg_id} is only partially visible "
                    "(overshadowed in part of its interval) — its "
                    "whole-segment state would leak overshadowed rows; "
                    "compact the table, re-materialize, then query again"
                )
            if seg_id in seen:
                continue
            seen.add(seg_id)
            p = resolve_parquet_dir(fs, _state_path(mdir, seg_id))
            if p is None:
                raise FileNotFoundError(
                    f"segment {seg_id} has no state for "
                    f"{name!r} — run materialize_aggs / "
                    "materialize_signatures (or catch_up_materialized) to "
                    "catch up; only the missing segments compute"
                )
            paths.append(fs.spark_url(p))
    if not paths:
        raise FileNotFoundError(
            f"no visible segments for {data_source} in "
            f"{', '.join(iv.iso() for iv in ivs)}"
        )
    return spec, paths


def read_signatures(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str,
) -> DataFrame:
    """The table's near-dup signature manifest, assembled from the
    visible segments' per-segment signature files (``(id, signature)``
    rows) — feed it straight to
    ``operators.dedup.incremental_neardup_pairs``. Same MVCC contract
    as ``query_materialized``: overshadowed segments' files are never
    read, partial visibility and missing states refuse loudly."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    spec, paths = _resolve_state_paths(fs, table_root, data_source, name)
    if spec.get("kind") != "signatures":
        raise ValueError(
            f"materialization {name!r} is kind="
            f"{spec.get('kind', 'rollup')!r}, not signatures — read it "
            "with query_materialized"
        )
    return spark.read.parquet(*paths)


def query_materialized(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    name: str,
    interval: str | Interval | None = None,
    post_aggregations: list[dict] | None = None,
) -> DataFrame:
    """Answer the rollup from per-segment states only — raw rows are
    never rescanned. One state-merge shuffle on (bucket, dims); state
    volume is (buckets × dims cardinality) per segment, not rows. The
    merge compiles as one SQL statement over the state files."""
    from druid_hadoop_utils_spark.functions.aggregators import (
        group_aggregate_sql,
    )
    from druid_hadoop_utils_spark.plans.planner import interval_sql
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    ivs = [Interval.parse(interval) if interval is not None else _ETERNITY]
    spec, paths = _resolve_state_paths(fs, table_root, data_source, name,
                                       ivs)
    if spec.get("kind", "rollup") != "rollup":
        raise ValueError(
            f"materialization {name!r} is kind={spec.get('kind')!r}, not "
            "a rollup — read it with its own reader (read_signatures)"
        )
    states = spark.read.parquet(*paths)
    schema = states.schema
    keys = ["__time", *spec["dimensions"]]
    merged = _merge_aggregations(spec["aggregations"])
    return sql_over(states, lambda src: group_aggregate_sql(
        f"(SELECT * FROM {src} WHERE {interval_sql(ivs)})", schema, keys,
        merged, post_aggregations))


def vacuum_materialized(
    table_root: str, data_source: str, name: str,
    tmp_min_age_s: float = 6 * 3600,
) -> list[str]:
    """Delete state files whose segment identifier is no longer listed in
    ANY manifest (vacuumed/killed segments) — overshadowed-but-listed
    segments keep their states (cheap, and a rollback via re-publish of
    the old version would reuse them). Also reclaims crashed writers'
    ``.parquet.tmp-<pid>`` staging dirs — but only when that pid is no
    longer alive, so a vacuum can never yank a live materializer's
    staging out from under it. Returns the deleted entries: bare segment
    identifiers for vacuumed states, the full directory name for
    reclaimed tmp/orphan dirs."""
    from druid_hadoop_utils_spark.sources.fs import (
        PTR_SUFFIX,
        get_fs,
        published_entries,
        remove_published_dirs,
    )
    from druid_hadoop_utils_spark.sources.segments import _safe, list_manifests

    fs = get_fs(table_root)
    mdir = _mat_dir(table_root, data_source, name)
    entries = fs.ls(mdir)
    if not entries:
        return []
    listed = {_safe(m.identifier)
              for m in list_manifests(table_root, data_source)}
    # the one compact-postings stem that is CURRENT (compact_postings):
    # its name carries the timeline version, so staleness is pure
    # string comparison — stale trees reclaim like unlisted segments
    from druid_hadoop_utils_spark.sources.segments import timeline_version

    try:
        _current_compact = "_compact." + timeline_version(
            table_root, data_source)
    except FileNotFoundError:
        _current_compact = None
    listed = listed | ({_current_compact} if _current_compact else set())

    # an mtime-age floor gates ALL reclamation of in-flight writer dirs
    # (default 6 h, override via tmp_min_age_s): the pid probe below is
    # SAME-HOST only — on shared storage a live materializer on another
    # host would look dead (and pid reuse would look alive) — so age is
    # the load-bearing condition (fs.old_enough)
    from druid_hadoop_utils_spark.sources.fs import old_enough

    def _stale(entry: str) -> bool:
        return old_enough(fs, fs.join(mdir, entry), tmp_min_age_s)

    # the committed states (rename backends: `<ident>.parquet` dirs;
    # pointer backends: `<ident>.parquet` pointer files), keyed by stem
    committed = published_entries(fs, mdir, suffix=".parquet")
    live_targets = {fs.name(p) for p in committed.values()}
    gone = []
    unpublish: list[str] = []   # committed entries → bulk unpublish
    plain_dirs: list[str] = []  # tmp/orphan dirs → bulk delete
    for entry in entries:
        if ".parquet.tmp-" in entry:
            # a crashed writer's tmp staging dir (rename backends)
            try:
                pid = int(entry.rsplit(".tmp-", 1)[1])
                os.kill(pid, 0)
                alive = True
            except (ValueError, ProcessLookupError):
                alive = False
            except PermissionError:
                alive = True
            if not alive and _stale(entry):
                plain_dirs.append(fs.join(mdir, entry))
                gone.append(entry)
            continue
        if entry.endswith(".parquet" + PTR_SUFFIX):
            continue  # handled via `committed` below
        if entry.endswith(".parquet"):
            if entry not in committed and not fs.atomic_dir_rename:
                continue  # shouldn't occur; be conservative
            stem = entry[: -len(".parquet")]
            if stem not in listed:
                # stale compact-postings trees get the same age floor as
                # tmp dirs: Spark reads are lazy, so a reader that
                # resolved a then-current tree may still be scanning it
                # when a publish makes it stale — reclaiming instantly
                # would fail that in-flight query. Segment states don't
                # need the gate (their segments left the timeline only
                # via vacuumed/killed manifests, long past any scan).
                if stem.startswith("_compact.") and not _stale(entry):
                    continue
                unpublish.append(fs.join(mdir, entry))
                gone.append(stem)
            continue
        # pointer backends: token data dirs `<ident>.parquet.<token>`
        if ".parquet." in entry and fs.isdir(fs.join(mdir, entry)):
            if entry not in live_targets and _stale(entry):
                # a loser of a concurrent-fill race, or a crashed
                # writer's complete-but-unreferenced dir
                plain_dirs.append(fs.join(mdir, entry))
                gone.append(entry)
    # pointer backends: committed states for unlisted segments
    if not fs.atomic_dir_rename:
        for logical in committed:
            stem = logical[: -len(".parquet")]
            if stem not in listed:
                # same in-flight-reader age floor as the rename branch —
                # gated on the RESOLVED token dir (committed[logical]):
                # the logical '<stem>.parquet' name never exists on
                # pointer backends (pointer is PTR_SUFFIX, data is
                # '.parquet.<token>'), so probing it yields age None and
                # stale _compact.* trees would leak forever.
                if (stem.startswith("_compact.")
                        and not old_enough(fs, committed[logical], tmp_min_age_s)):
                    continue
                unpublish.append(fs.join(mdir, logical))
                gone.append(stem)
    # one pool-parallel reclamation pass (fs.py bulk contract): pointers
    # drop first inside remove_published_dirs, then data dirs
    remove_published_dirs(fs, unpublish)
    fs.delete_dirs(plain_dirs)
    return sorted(gone)


# ------------------------------------------------ transparent query rewrite

_CALENDAR = {"WEEK", "MONTH", "QUARTER", "YEAR"}


def granularity_nests(fine, coarse) -> bool:
    """True iff every ``coarse`` bucket is a union of whole ``fine``
    buckets (named UTC granularities only) — the condition under which
    states rolled up at ``fine`` re-bucket EXACTLY to ``coarse``.

    WEEK nests nothing coarser (ISO weeks straddle month boundaries) and
    only day-aligned widths nest into it. Dict (duration/period)
    granularities only nest into themselves."""
    if isinstance(fine, dict) or isinstance(coarse, dict):
        return (isinstance(fine, dict) and isinstance(coarse, dict)
                and json.dumps(fine, sort_keys=True)
                == json.dumps(coarse, sort_keys=True))
    f, c = str(fine).upper(), str(coarse).upper()
    if f == c:
        return True
    if c == "ALL":
        return True
    if f == "ALL" or c == "NONE":
        return False
    if f == "NONE":
        return True
    if f in BUCKET_SECONDS and c in BUCKET_SECONDS:
        return BUCKET_SECONDS[c] % BUCKET_SECONDS[f] == 0
    if c in _CALENDAR:
        if f in BUCKET_SECONDS:
            return 86400 % BUCKET_SECONDS[f] == 0
        if f == "MONTH":
            return c in {"QUARTER", "YEAR"}
        if f == "QUARTER":
            return c == "YEAR"
        return False  # WEEK, or unknown
    return False


def _bucket_aligned(dt, granularity) -> bool:
    """True iff ``dt`` is a bucket START of the named granularity — the
    condition an interval endpoint must meet for whole-bucket state
    filtering to equal raw-row filtering."""
    from datetime import timezone

    g = str(granularity).upper()
    if g == "NONE":
        return True
    if dt.microsecond:
        return False
    if g in BUCKET_SECONDS:
        aware = dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)
        return int(aware.timestamp()) % BUCKET_SECONDS[g] == 0
    midnight = dt.hour == 0 and dt.minute == 0 and dt.second == 0
    if g == "WEEK":
        return midnight and dt.isoweekday() == 1
    if g == "MONTH":
        return midnight and dt.day == 1
    if g == "QUARTER":
        return midnight and dt.day == 1 and dt.month in {1, 4, 7, 10}
    if g == "YEAR":
        return midnight and dt.day == 1 and dt.month == 1
    return False  # ALL, or unknown


def list_materializations(table_root: str, data_source: str) -> dict[str, dict]:
    """name → persisted spec for every materialized rollup of a table."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    base = fs.join(table_root, data_source, "_materialized")
    out: dict[str, dict] = {}
    for name in fs.ls(base):
        spec_path = fs.join(base, name, "spec.json")
        if fs.exists(spec_path):
            out[name] = json.loads(fs.read_text(spec_path))
    return out


def _canonical_agg(a: dict) -> str:
    return json.dumps({k: v for k, v in a.items() if k != "name"},
                      sort_keys=True, default=str)


class RewriteMiss(ValueError):
    """No materialization covers the query (reason in the message)."""


def rewrite_groupby_from_states(
    spark: SparkSession,
    table_root: str,
    data_source: str,
    dimensions: list[str],
    aggregations: list[dict],
    granularity,
    intervals,
    dim_filter: dict | None = None,
    post_aggregations: list[dict] | None = None,
    require: bool = False,
) -> DataFrame | None:
    """Answer a Druid groupBy from per-segment materialized states when a
    persisted rollup COVERS it — the broker-side automatic-rollup-usage
    Druid gets for free from ingest-time rollup, reconstructed for lazy
    materialization. Returns ``None`` when no rollup covers the query
    (``require=True`` raises ``RewriteMiss`` with the reason instead), so
    the caller falls back to the raw-segment scan.

    Coverage conditions (each refusal is a soundness argument):

    - query dims ⊆ spec dims — extra spec dims merge away exactly
      (mergeable states re-aggregate associatively);
    - spec granularity NESTS into query granularity
      (``granularity_nests``) — coarse buckets are unions of whole fine
      buckets, so re-truncating state bucket timestamps is exact;
    - every query aggregator equals a spec aggregator modulo output name
      — it then evaluates as the spec state's merge, renamed;
    - the filter references only spec DIMENSIONS — state rows keep raw
      dimension values, so any DimFilter evaluates identically on them;
      a filter touching ``__time`` or a metric column refuses;
    - every interval endpoint is a SPEC-granularity bucket start
      (``_bucket_aligned``) — whole-bucket filtering then selects exactly
      the raw rows the interval would;
    - no queried/filtered dimension is array-typed (multi-value explode
      happens on raw rows in the scan path; refusing keeps the two paths
      bit-identical rather than arguing about explode-after-merge);
    - every visible segment in the intervals is FULLY visible and has a
      state file — the MVCC resolver ``query_materialized`` uses
      (``_resolve_state_paths``), fed one timeline listing shared by
      every candidate rollup.

    Compile on success: ``spark.read.parquet`` over the state files plus
    ONE ``spark.sql`` statement (interval + filter + re-bucketing, the
    state merge through ``group_aggregate_sql``, then the post-aggs and
    broker finalize through ``post_agg_select_sql`` — the raw groupBy's
    own compilers). Plan shape: read small state parquets → one hash
    aggregate on (coarse bucket, query dims). Raw rows are never scanned
    — at 100 TB the query touches kilobytes per segment instead of the
    table.
    """
    from druid_hadoop_utils_spark.functions.aggregators import (
        agg_inner,
        agg_out_name,
        group_aggregate_sql,
        post_agg_select_sql,
        sketch_post_agg_refs,
    )
    from druid_hadoop_utils_spark.functions.filters import (
        _is_array,
        filter_columns,
        filter_sql,
    )
    from druid_hadoop_utils_spark.functions.granularity import granularity_sql
    from druid_hadoop_utils_spark.plans.planner import interval_sql
    from druid_hadoop_utils_spark.sources.fs import get_fs
    from druid_hadoop_utils_spark.sources.segments import list_manifests

    def miss(reason: str):
        if require:
            raise RewriteMiss(
                f"no materialization covers the query: {reason}")
        return None

    if not isinstance(data_source, str):
        return miss("dataSource is not a plain table name")
    specs = list_materializations(table_root, data_source)
    if not specs:
        return miss("table has no materialized rollups")
    fs = get_fs(table_root)
    ivs = intervals if isinstance(intervals, (list, tuple)) else [intervals]
    ivs = [Interval.parse(iv) for iv in ivs]
    q_dims = list(dimensions)
    refs = set(filter_columns(dim_filter))
    manifests = None  # the timeline, listed once for every candidate
    reasons = []
    for name, spec in specs.items():
        if spec.get("kind", "rollup") != "rollup":
            # signature materializations (round 12) have no aggregation
            # shape — never rewrite candidates
            continue
        s_dims, s_gran = spec["dimensions"], spec["granularity"]
        if isinstance(s_gran, str) and s_gran.upper() == "ALL":
            reasons.append(f"{name}: ALL-granularity states cannot "
                           "re-filter by interval")
            continue
        if not set(q_dims) <= set(s_dims):
            reasons.append(f"{name}: dims {sorted(set(q_dims) - set(s_dims))} "
                           "not materialized")
            continue
        if not granularity_nests(s_gran, granularity):
            reasons.append(f"{name}: {s_gran} does not nest into "
                           f"{granularity}")
            continue
        spec_by_canon = {}
        for sa in spec["aggregations"]:
            spec_by_canon.setdefault(_canonical_agg(sa), sa)
        matched = []
        for qa in aggregations:
            sa = spec_by_canon.get(_canonical_agg(qa))
            if sa is None:
                matched = None
                reasons.append(f"{name}: aggregator "
                               f"{agg_out_name(qa)!r} not materialized")
                break
            matched.append((qa, sa))
        if matched is None:
            continue
        if not refs <= set(s_dims):
            reasons.append(f"{name}: filter references "
                           f"{sorted(refs - set(s_dims))} beyond the "
                           "materialized dimensions")
            continue
        misaligned = [
            e for iv in ivs for e in (iv.start, iv.end)
            if not _bucket_aligned(e, s_gran)
        ]
        if misaligned:
            reasons.append(f"{name}: interval endpoints {misaligned} not "
                           f"aligned to {s_gran} buckets")
            continue
        if manifests is None:
            manifests = list_manifests(table_root, data_source)
        try:
            _spec, paths = _resolve_state_paths(
                fs, table_root, data_source, name, ivs,
                manifests=manifests, spec=spec)
        except (ValueError, FileNotFoundError) as e:
            reasons.append(f"{name}: {e}")
            continue

        states = spark.read.parquet(*paths)
        schema = states.schema
        arrayish = sorted(d for d in set(q_dims) | refs if _is_array(schema, d))
        if arrayish:
            reasons.append(f"{name}: multi-value dims {arrayish} "
                           "take the raw-scan explode path")
            continue

        merged = []
        for qa, sa in matched:
            m = _merge_aggregations([sa])[0]
            m["name"] = agg_out_name(qa)
            merged.append(m)
        keys = ["__time", *q_dims]
        where = interval_sql(ivs)
        if dim_filter is not None:
            where += f" AND ({filter_sql(dim_filter, schema)})"
        bucket = granularity_sql(granularity, ident("__time"))
        # schema parity with the raw-scan path: count re-merges as a SUM
        # of stored counts (nullable), but raw count(*) is non-nullable —
        # coalesce restores the non-null schema bit (a group always has
        # ≥1 state row, so the value itself can never actually be null).
        # This runs BEFORE post-aggregations so derived columns computed
        # from counts inherit the same nullability as on the raw path.
        counts = {agg_out_name(qa) for qa, _ in matched
                  if agg_inner(qa).get("type") == "count"}
        counted = [ident(k) for k in keys] + [
            f"coalesce({ident(n)}, CAST(0 AS BIGINT)) AS {ident(n)}"
            if n in counts else ident(n)
            for n in (m["name"] for m in merged)
        ]
        # sketch columns the post-aggs read as raw state stay unfinalized
        # through the merge, then re-finalize to their estimates in the
        # response (the broker step, as on the raw path)
        sketch_refs = sketch_post_agg_refs(post_aggregations)

        def build(src: str) -> str:
            rows = (f"(SELECT {bucket} AS `__time`, * EXCEPT (`__time`) "
                    f"FROM {src} WHERE {where})")
            text = (f"SELECT {', '.join(counted)} FROM ("
                    + group_aggregate_sql(rows, schema, keys, merged,
                                          no_finalize=sketch_refs) + ")")
            if not post_aggregations:
                return text
            return post_agg_select_sql(f"({text})", keys, merged,
                                       post_aggregations, sketch_refs)

        return sql_over(states, build)
    return miss("; ".join(reasons) if reasons else "no candidate specs")
