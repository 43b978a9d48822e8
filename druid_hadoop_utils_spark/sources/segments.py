"""Versioned, time-partitioned Parquet segment layout + overshadow timeline.

Re-expresses the reference's segment model (SURVEY.md §1.3, §2.1 S1/S2):

- a *datasource* is a directory of immutable parquet "segments", each covering
  one half-open time interval and carrying a version string and shard number
  (reference: descriptor.json:1-17 fields interval/version/shardSpec);
- discovery is a driver-side listing of ``_segments/*.json`` manifests — the
  Spark-native replacement for the reference's overlord HTTP metadata fetch
  (reference: DruidInputFormat.java:118-171);
- visibility follows Druid's ``VersionedIntervalTimeline`` MVCC semantics
  (reference: DruidInputFormat.java:98-110): at every instant, only the
  max-version segment covering that instant is visible; newer versions
  overshadow older ones, including *partial* overshadowing where an old
  segment stays visible outside the sub-interval a newer segment covers.

At 100 TB scale this stays cheap: manifests are tiny driver-side JSON (one
per segment), resolution is an O(n log n) sweep, and the chosen files go
straight into one ``spark.read.parquet(paths)`` so Catalyst still performs
file splitting, column pruning, and predicate pushdown natively.
"""

from __future__ import annotations

import heapq
import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

from druid_hadoop_utils_spark.intervals import Interval, merge_adjacent

MANIFEST_DIR = "_segments"


@dataclass(frozen=True)
class SegmentManifest:
    data_source: str
    interval: Interval
    version: str
    shard_num: int
    path: str  # directory holding this segment's parquet files
    # the _segments/*.json file this entry came from (a multi-shard group
    # file carries several entries); provenance only — excluded from
    # equality/hashing so timeline identity stays (ds, interval, version,
    # shard, path)
    manifest_file: str | None = field(default=None, compare=False)
    # a tombstone participates in the overshadow timeline (hiding older
    # versions of its interval — Druid's kill/drop semantics) but carries
    # no data: scans skip it, vacuum then reclaims what it hides
    tombstone: bool = False
    # optional per-column {col: {"min": v, "max": v}} recorded at publish
    # (the Spark-era analogue of Druid's per-segment dimension indexes):
    # lets the planner drop whole segments whose stats provably exclude
    # the query's DimFilter — see plans/pruning.py. Advisory metadata;
    # excluded from identity.
    stats: dict | None = field(default=None, compare=False)
    # wall-clock publish stamp (ISO-8601 UTC, microseconds) recorded when
    # the manifest is announced — the basis for time-travel reads
    # (``list_manifests(as_of=...)``): the table "as of T" is the
    # timeline over exactly the manifests announced at or before T.
    # Advisory metadata; excluded from identity (the same segment
    # re-announced is the same segment).
    published_at: str | None = field(default=None, compare=False)
    # the segment files' Spark schema (``StructType.jsonValue()``, every
    # field nullable — what a mergeSchema footer read of the files infers)
    # recorded at publish, so the planner merges schemas on the driver
    # instead of running a footer-read job per query (``segments_schema``).
    # Advisory metadata; excluded from identity. None on manifests
    # written before it was recorded.
    schema: dict | None = field(default=None, compare=False)

    @property
    def identifier(self) -> str:
        # same shape as Druid's segment identifier (descriptor.json:16)
        return (
            f"{self.data_source}_{self.interval.start.isoformat()}"
            f"_{self.interval.end.isoformat()}_{self.version}_{self.shard_num}"
        )

    def to_json(self) -> dict:
        out = {
            "dataSource": self.data_source,
            "interval": self.interval.iso(),
            "version": self.version,
            "shardNum": self.shard_num,
            "path": self.path,
        }
        if self.tombstone:
            out["tombstone"] = True
        if self.stats:
            out["stats"] = self.stats
        if self.published_at:
            out["publishedAt"] = self.published_at
        if self.schema:
            out["schema"] = self.schema
        return out

    @classmethod
    def from_json(cls, obj: dict) -> "SegmentManifest":
        return cls(
            data_source=obj["dataSource"],
            interval=Interval.parse(obj["interval"]),
            version=str(obj["version"]),
            shard_num=int(obj.get("shardNum", 0)),
            path=obj["path"],
            tombstone=bool(obj.get("tombstone", False)),
            stats=obj.get("stats"),
            published_at=obj.get("publishedAt"),
            schema=obj.get("schema"),
        )

    def shard_json(self) -> dict:
        """This segment's entry in a multi-shard group manifest."""
        return {"shardNum": self.shard_num, "path": self.path,
                **({"stats": self.stats} if self.stats else {}),
                **({"schema": self.schema} if self.schema else {})}


def recorded_schema(schema: StructType, exclude=()) -> dict:
    """The schema a segment's manifest records for files written from a
    frame of ``schema``: partition columns (``exclude``) dropped and every
    field nullable, as Spark's parquet writer stores it."""
    return StructType([
        StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
        for f in schema.fields if f.name not in exclude
    ]).jsonValue()


def _as_nullable(dt: DataType) -> DataType:
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True,
                                       f.metadata) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def segments_schema(manifests) -> StructType | None:
    """The driver-side merge of the manifests' recorded schemas: fields
    unioned by name in first-seen order, so a column a newer segment adds
    reads as NULL in older ones (Druid's evolving dimensions). None when a
    manifest records no schema (written before schemas were recorded) or
    two manifests disagree on a field's type — the caller then reads with
    ``mergeSchema``, which merges from the file footers and raises Spark's
    CANNOT_MERGE_SCHEMAS on a real type conflict (a metric type change
    needs reindexing: compact the old intervals with the new type)."""
    fields: dict[str, StructField] = {}
    distinct: list[dict] = []
    for m in manifests:
        if not m.schema:
            return None
        if m.schema in distinct:
            continue
        distinct.append(m.schema)
        for f in StructType.fromJson(m.schema).fields:
            prev = fields.setdefault(f.name.lower(), f)
            if prev.name != f.name or prev.dataType != f.dataType:
                return None
    return StructType(list(fields.values()))


def read_segments(spark: SparkSession, paths: list[str],
                  schema: StructType | None) -> DataFrame:
    """One parquet scan over segment data dirs: with the merged manifest
    schema when there is one (no Spark job), else ``mergeSchema`` (one
    footer-read job)."""
    reader = spark.read
    if schema is None:
        reader = reader.option("mergeSchema", "true")
    else:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


@dataclass(frozen=True)
class WindowedSegment:
    """A visible segment plus the sub-intervals in which it is visible —
    the analogue of the reference's WindowedDataSegment
    (DruidInputFormat.java:105-112)."""

    manifest: SegmentManifest
    windows: tuple[Interval, ...] = field(default_factory=tuple)

    def is_fully_visible(self, query_interval: Interval) -> bool:
        """True when the windows cover everything this segment could
        contribute to the query interval — i.e. no per-segment time filter
        beyond the global query-interval predicate is needed."""
        contrib = self.manifest.interval.intersect(query_interval)
        return contrib is not None and len(self.windows) == 1 and self.windows[0] == contrib


def _safe(s: str) -> str:
    return s.replace(":", "-").replace("/", "_").replace("+", "")


_LAST_STAMP: list = [None]  # per-process monotonicity guard for publish stamps

#: per-(table_root, data_source) max stamp this process has SEEN or
#: WRITTEN — seeds the cross-process clamp with ONE listing per table
#: per process (see register_manifest)
_STAMP_MEMO: dict = {}


def publish_stamp(floor=None) -> str:
    """ISO-8601 UTC publish stamp, microsecond precision, strictly
    increasing within a process: two back-to-back publishes always order
    (a coarse clock could otherwise stamp them identically, making an
    ``as_of`` between them ambiguous).

    ``floor`` (ISO stamp or datetime) additionally clamps the result to
    at least floor + 1 µs. The register paths pass the table's current
    max publishedAt so MULTI-WRITER publishes (several processes/hosts
    with skewed clocks) still stamp in actual announce order — without
    the clamp, as_of views and vacuum's retention view-enumeration could
    order differently from what readers actually observed."""
    from datetime import datetime, timedelta, timezone

    now = datetime.now(timezone.utc)
    prev = _LAST_STAMP[0]
    if prev is not None and now <= prev:
        now = prev + timedelta(microseconds=1)
    # the monotonic guard tracks ONLY the unfloored clock: the floor is
    # per-table state (one table carrying a future-dated stamp must not
    # poison every other table's stamps through this process-global) —
    # per-table ordering across floored calls is the _STAMP_MEMO's job
    _LAST_STAMP[0] = now
    if floor is not None:
        f = _parse_as_of(floor)
        if now <= f:
            now = f + timedelta(microseconds=1)
    return now.isoformat()


def max_published_stamp(table_root: str, data_source: str):
    """Largest ``publishedAt`` across the table's current manifests (None
    for a new/unstamped table) — the cross-process clamp floor for
    ``publish_stamp``. One metadata listing (a single snapshot read
    after ``compact_manifests``)."""
    try:
        ms = list_manifests(table_root, data_source)
    except FileNotFoundError:
        return None
    stamps = [m.published_at for m in ms if m.published_at is not None]
    return max(stamps, key=_parse_as_of) if stamps else None


def _parse_as_of(as_of) -> "object":
    """Accept an ISO string or datetime; naive values are UTC (every
    publish stamp is written timezone-aware UTC)."""
    from datetime import datetime, timezone

    if isinstance(as_of, str):
        as_of = datetime.fromisoformat(as_of.replace("Z", "+00:00"))
    if not isinstance(as_of, datetime):
        raise TypeError(f"as_of must be an ISO string or datetime, got {as_of!r}")
    if as_of.tzinfo is None:
        as_of = as_of.replace(tzinfo=timezone.utc)
    return as_of


def _published_within(published_at: str | None, as_of) -> bool:
    """True when a manifest announced at ``published_at`` is part of the
    ``as_of`` view. Manifests with no stamp predate the feature — they
    were on disk before any stamped publish, so every view includes
    them."""
    if published_at is None:
        return True
    return _parse_as_of(published_at) <= as_of


#: Exact dtype names the stats/bloom pruner reasons about. Exact matches
#: (not startswith) because Spark's "interval day to second" dtype would
#: otherwise match an "int" prefix and record a timedelta min/max that
#: json.dumps can't serialize.
STATS_DTYPES = frozenset(
    {"string", "int", "bigint", "smallint", "tinyint", "double", "float"}
)
INT_DTYPES = frozenset({"int", "bigint", "smallint", "tinyint"})


def _stats_dtype_ok(dtype: str) -> bool:
    return dtype in STATS_DTYPES or dtype.startswith("decimal(")


def column_stats(df: DataFrame, columns: list[str]) -> dict | None:
    """One aggregate job → {col: {"min": v, "max": v}} for the string /
    numeric columns of ``columns`` present in ``df`` (other types are
    skipped — the pruner only reasons about those two families). Returns
    None when nothing qualifies."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    cols = [c for c in columns if _stats_dtype_ok(dtypes.get(c, ""))]
    if not cols:
        return None
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    out = {}
    for c in cols:
        lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
        if lo is None or hi is None:
            continue
        if isinstance(lo, float) or isinstance(lo, int) or isinstance(lo, str):
            out[c] = {"min": lo, "max": hi}
        else:  # Decimal etc. → float for JSON
            out[c] = {"min": float(lo), "max": float(hi)}
    return out or None


def write_segment(
    df: DataFrame,
    table_root: str,
    data_source: str,
    interval: str | Interval,
    version: str,
    shard_num: int = 0,
    partition_by_day: bool = False,
    enforce_interval: bool = True,
    stats_columns: list[str] | None = None,
    published_at: str | None = None,
) -> SegmentManifest:
    """Publish ``df`` as one immutable segment of ``data_source``.

    The manifest write is last, making publication atomic-ish the same way
    Druid's segment announcement is: a crashed write leaves orphan parquet
    that no manifest references, never a half-visible segment.

    ``enforce_interval`` filters rows to the declared [start, end) — the
    timeline's visibility math assumes segment data lies inside its
    declared interval (Druid enforces this at ingestion); rows outside it
    would leak into fully-visible reads. ``enforce_interval=False`` leaves
    that to the caller: a fully visible timestamp-``__time`` segment
    inside the query interval is read with no time filter at all
    (``plans.planner.load``).

    ``stats_columns`` records per-column min/max in the manifest (one
    extra aggregate job) so the planner can skip this segment entirely
    when a query's DimFilter provably excludes it (plans/pruning.py).
    """
    iv = Interval.parse(interval)
    if enforce_interval and "__time" in df.columns:
        from druid_hadoop_utils_spark.plans.planner import interval_sql

        df = df.where(interval_sql(
            [iv], time_type=df.schema["__time"].dataType.simpleString()))
    seg_dir = segment_dir(table_root, data_source, iv, version, shard_num)
    writer = df.write.mode("overwrite")
    if partition_by_day:
        writer = writer.partitionBy("__time_day")
    writer.parquet(seg_dir)
    schema = recorded_schema(
        df.schema, ("__time_day",) if partition_by_day else ())

    # Stats come from a re-read of the parquet just written — NOT from a
    # second execution of `df`. A non-deterministic pipeline (sampling,
    # rand(), a changing source) re-executed here could record min/max
    # that disagree with the persisted rows, and the planner would then
    # soundly-looking-but-wrongly prune segments that contain matching
    # data. publish_segments re-reads its staging dir for the same reason.
    # The re-read prunes to exactly the stats columns.
    stats = (
        column_stats(df.sparkSession.read.parquet(seg_dir), stats_columns)
        if stats_columns else None
    )
    manifest = SegmentManifest(data_source, iv, str(version), shard_num,
                               seg_dir, stats=stats,
                               published_at=published_at, schema=schema)
    # announce under the table's commit lease: a registration landing
    # between a concurrent DML commit's timeline re-validation and its
    # register would be silently overshadowed by the DML's (higher)
    # version — serializing EVERY announcement through the ms-held lease
    # makes the DML fingerprint check airtight (VERDICT r10 item 1). The
    # lease is metadata-only; the data write above stays outside it.
    from druid_hadoop_utils_spark.sources.lease import commit_lease

    with commit_lease(table_root, data_source, "write_segment"):
        register_manifest(table_root, manifest)
    # commit-driven materialize catch-up (round 12): streamed
    # micro-batch publishes and manual segment writes feed the pending
    # log too, so catch_up_materialized covers them O(affected).
    # Best-effort — the lazy materialize_aggs pass remains the fallback
    try:
        from druid_hadoop_utils_spark.sources.materialize import (
            register_pending_states,
        )

        register_pending_states(table_root, data_source,
                                [manifest.identifier])
    except Exception:
        pass  # best-effort: lazy catch-up still covers this segment
    return manifest


def segment_dir(table_root: str, data_source: str, iv: Interval, version: str,
                shard_num: int = 0) -> str:
    """Physical data location for one segment, in the SPARK namespace —
    manifests persist this path verbatim, so every reader (planner,
    materializer) can hand it straight to ``spark.read.parquet``
    whatever filesystem the table root lives on (identity for local
    roots; ``file://``/``s3a://``-style URLs for scheme roots)."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    return fs.spark_url(fs.join(
        table_root,
        data_source,
        f"{_safe(iv.start.isoformat())}_{_safe(iv.end.isoformat())}",
        f"v={version}",
        f"shard={shard_num}",
    ))


def register_manifest(table_root: str, manifest: SegmentManifest) -> None:
    """Atomically announce a segment: manifest lands last, so readers never
    see half-written data (orphan parquet without a manifest is invisible).
    The manifest is a single small object, published through the
    filesystem seam's atomic put (sources/fs.py) — tmp+rename on POSIX,
    plain PUT on object stores where the PUT itself is atomic."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    import dataclasses

    fs = get_fs(table_root)
    key = (table_root, manifest.data_source)
    if manifest.published_at is None:
        # clamp to the table's max existing stamp: multi-writer publishes
        # announce in stamp order even across skewed clocks (ADVICE r8).
        # The listing happens ONCE per (table, process) — later registers
        # clamp against the memo + the per-process monotonic guard, which
        # is the same guarantee (stamps of writers racing WITHIN each
        # other's lifetime are unordered under any read-then-write
        # scheme; the clamp fixes sequential cross-process skew) without
        # an O(manifests) listing on every streaming micro-batch write.
        floor = _STAMP_MEMO.get(key)
        if floor is None:
            floor = max_published_stamp(table_root, manifest.data_source)
        manifest = dataclasses.replace(
            manifest, published_at=publish_stamp(floor=floor))
    prev = _STAMP_MEMO.get(key)
    if prev is None or _parse_as_of(manifest.published_at) > _parse_as_of(prev):
        _STAMP_MEMO[key] = manifest.published_at
    mdir = fs.join(table_root, manifest.data_source, MANIFEST_DIR)
    fs.mkdirs(mdir)
    mpath = fs.join(mdir, f"{_safe(manifest.identifier)}.json")
    fs.put_text(mpath, json.dumps(manifest.to_json(), indent=2))


def register_manifest_group(
    table_root: str, manifests: list[SegmentManifest]
) -> str:
    """Atomically announce ALL shards of one (interval, version) in a
    single manifest file (Druid's shardSpec list, descriptor.json:10-14):
    readers see every shard or none, so replacing a hot bucket with N
    parallel-written shards flips atomically — per-shard files would open
    a window where a half-announced new version overshadows the complete
    old one. Returns the manifest file path."""
    if not manifests:
        raise ValueError("register_manifest_group needs at least one shard")
    heads = {(m.data_source, m.interval, m.version) for m in manifests}
    if len(heads) != 1:
        raise ValueError(
            f"group manifest must cover ONE (dataSource, interval, version); got {heads}"
        )
    shards = sorted(m.shard_num for m in manifests)
    if len(set(shards)) != len(shards):
        raise ValueError(f"duplicate shardNum in group: {shards}")
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    m0 = manifests[0]
    mdir = fs.join(table_root, m0.data_source, MANIFEST_DIR)
    fs.mkdirs(mdir)
    group_id = (
        f"{m0.data_source}_{m0.interval.start.isoformat()}"
        f"_{m0.interval.end.isoformat()}_{m0.version}"
    )
    mpath = fs.join(mdir, f"{_safe(group_id)}.json")
    # one stamp for the whole group: all shards of one (interval, version)
    # announce together, so they enter every as_of view together. When
    # defaulting, clamp to the table's max existing stamp (ADVICE r8:
    # multi-writer announce order; memoized per process like
    # register_manifest).
    key = (table_root, m0.data_source)
    stamp = next(
        (m.published_at for m in manifests if m.published_at), None
    )
    if stamp is None:
        floor = _STAMP_MEMO.get(key)
        if floor is None:
            floor = max_published_stamp(table_root, m0.data_source)
        stamp = publish_stamp(floor=floor)
    prev = _STAMP_MEMO.get(key)
    if prev is None or _parse_as_of(stamp) > _parse_as_of(prev):
        _STAMP_MEMO[key] = stamp
    obj = {
        "dataSource": m0.data_source,
        "interval": m0.interval.iso(),
        "version": m0.version,
        "publishedAt": stamp,
        "shards": [m.shard_json()
                   for m in sorted(manifests, key=lambda m: m.shard_num)],
    }
    fs.put_text(mpath, json.dumps(obj, indent=2))
    return mpath


def _manifests_from_json(obj: dict, mpath: str) -> list[SegmentManifest]:
    """Parse one manifest file: the single-segment shape, the
    multi-shard group shape (``shards`` list), or a compacted SNAPSHOT
    (``snapshot`` list of either of the other two shapes) written by
    ``compact_manifests``."""
    if "snapshot" in obj:
        out: list[SegmentManifest] = []
        for entry in obj["snapshot"]:
            out.extend(_manifests_from_json(entry, mpath))
        return out
    if "shards" in obj:
        iv = Interval.parse(obj["interval"])
        return [
            SegmentManifest(
                data_source=obj["dataSource"],
                interval=iv,
                version=str(obj["version"]),
                shard_num=int(s["shardNum"]),
                path=s["path"],
                manifest_file=mpath,
                stats=s.get("stats"),
                published_at=obj.get("publishedAt"),
                schema=s.get("schema"),
            )
            for s in obj["shards"]
        ]
    m = SegmentManifest.from_json(obj)
    return [
        SegmentManifest(
            m.data_source, m.interval, m.version, m.shard_num, m.path,
            manifest_file=mpath, tombstone=m.tombstone, stats=m.stats,
            published_at=m.published_at, schema=m.schema,
        )
    ]


def list_manifests(
    table_root: str, data_source: str, as_of=None, _raw_out: dict | None = None
) -> list[SegmentManifest]:
    """Driver-side metadata listing (replaces the overlord HTTP hop). A
    multi-shard group file expands to one entry per shard.

    ``as_of`` (ISO string or datetime; naive = UTC) restricts the listing
    to manifests announced at or before that instant — the TIME-TRAVEL
    view: resolving the overshadow timeline over this subset reproduces
    exactly what a reader at that wall-clock moment saw (publishes,
    compactions, and drop tombstones all announce through manifests, so
    all three rewind together). History is reconstructible only back to
    the last physical ``vacuum`` — an ``as_of`` earlier than the
    recorded horizon raises rather than silently answering from the
    segments that happen to survive."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    if as_of is not None:
        # "tag:<name>" resolves to the tag's pinned instant (create_tag)
        as_of = _parse_as_of(resolve_as_of(table_root, data_source, as_of))
        horizon = history_horizon(table_root, data_source)
        if horizon is not None and as_of < horizon:
            raise ValueError(
                f"as_of={as_of.isoformat()} predates this table's history "
                f"horizon {horizon.isoformat()}: a vacuum has physically "
                "removed overshadowed segments, so the timeline at that "
                "instant can no longer be reconstructed"
            )
    mdir = fs.join(table_root, data_source, MANIFEST_DIR)
    names = fs.ls(mdir)
    if not names and not fs.isdir(mdir):
        raise FileNotFoundError(f"no segment manifests under {mdir}")
    out = []
    seen: set = set()
    for name in names:
        # "_"-prefixed objects are table metadata (the history horizon),
        # not manifests
        if (name.endswith(".json") and not name.endswith(".tmp")
                and not name.startswith("_")):
            mpath = fs.join(mdir, name)
            obj = json.loads(fs.read_text(mpath))
            if _raw_out is not None:
                # hand the parsed objects back to callers that would
                # otherwise RE-READ every file (vacuum's shape-aware
                # rewrite) — on an object store that re-read doubles the
                # sweep's GET count (measured: BASELINE.md
                # "Injected-latency probe (round 8)")
                _raw_out[mpath] = obj
            for m in _manifests_from_json(obj, mpath):
                if as_of is not None and not _published_within(
                        m.published_at, as_of):
                    continue
                # dedup: a crash between a snapshot PUT and the deletion
                # of the originals (compact_manifests) leaves the same
                # entry in two files — identity-equal, keep the first
                # (names sort snapshots first, so the snapshot copy
                # wins and vacuum's snapshot-aware path owns it)
                key = (m.identifier, m.tombstone)
                if key in seen:
                    continue
                seen.add(key)
                out.append(m)
    return out


HORIZON_FILE = "_horizon.json"


def history_horizon(table_root: str, data_source: str):
    """Earliest instant to which this table's timeline can still be
    rewound (aware UTC datetime), or None when no vacuum has ever
    physically removed segments. Written by ``maintenance.vacuum``."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    path = fs.join(table_root, data_source, MANIFEST_DIR, HORIZON_FILE)
    try:
        obj = json.loads(fs.read_text(path))
    except (FileNotFoundError, OSError):
        return None
    return _parse_as_of(obj["asOfHorizon"])


def mark_history_horizon(
    table_root: str, data_source: str, stamp: str | None = None
) -> str:
    """Advance the time-travel horizon to ``stamp`` (default: now).
    Called by ``vacuum`` after removing overshadowed segments: any
    ``as_of`` before this instant might have needed a segment that no
    longer exists, so such reads refuse loudly instead of silently
    resolving to whatever survives. The horizon only moves forward."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    stamp = stamp or publish_stamp()
    prev = history_horizon(table_root, data_source)
    if prev is not None and _parse_as_of(stamp) <= prev:
        return prev.isoformat()
    path = fs.join(table_root, data_source, MANIFEST_DIR, HORIZON_FILE)
    fs.put_text(path, json.dumps({"asOfHorizon": stamp}, indent=2))
    return stamp


def table_history(table_root: str, data_source: str) -> list[dict]:
    """Publish log for a managed table (the DESCRIBE HISTORY analogue),
    oldest first: one row per manifest entry with its announce stamp,
    whether it is a tombstone, and whether the CURRENT timeline still
    shows it. Driver-side metadata only — no data read."""
    manifests = list_manifests(table_root, data_source)
    if not manifests:
        return []
    visible = {w.manifest for w in _resolve_full_span(manifests)}
    rows = [
        {
            "identifier": m.identifier,
            "interval": m.interval.iso(),
            "version": m.version,
            "shardNum": m.shard_num,
            "tombstone": m.tombstone,
            "publishedAt": m.published_at,
            "visible": m in visible,
            "path": m.path,
        }
        for m in manifests
    ]
    rows.sort(key=lambda r: (r["publishedAt"] or "", r["identifier"]))
    return rows


#: named snapshot tags live under ``_segments/_tags/`` — the "_" prefix
#: keeps the directory out of manifest listings, one file per tag keeps
#: every create/delete an independent atomic put (no read-modify-write,
#: object-store safe)
TAGS_DIR = "_tags"

#: ``as_of`` values with this prefix name a tag instead of an instant
TAG_AS_OF_PREFIX = "tag:"


def _tag_path(fs, table_root: str, data_source: str, name: str) -> str:
    import re

    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
        raise ValueError(
            f"invalid tag name {name!r} (letters/digits/._- only, must "
            "start with a letter or digit)"
        )
    return fs.join(table_root, data_source, MANIFEST_DIR, TAGS_DIR,
                   f"{name}.json")


def create_tag(
    table_root: str,
    data_source: str,
    name: str,
    as_of=None,
    replace: bool = False,
) -> dict:
    """Pin a named, immutable snapshot of the table's timeline (the
    Iceberg-tag analogue): ``load(..., as_of="tag:<name>")`` resolves to
    the pinned instant, and ``vacuum`` preserves every view from the
    oldest tag forward (and never advances the history horizon past it),
    so a tagged read keeps working until the tag is deleted. Metadata
    only — one small JSON object per tag, no data copied: "which corpus
    snapshot did this run train on" becomes (table_root, tag) instead of
    a duplicated dataset.

    ``as_of`` defaults to the latest announce stamp — the CURRENT view.
    Tags are immutable unless ``replace=True``. Creating a tag below the
    history horizon refuses (that view is already unreconstructible)."""
    from datetime import datetime, timezone

    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    path = _tag_path(fs, table_root, data_source, name)
    if not fs.isdir(fs.join(table_root, data_source, MANIFEST_DIR)):
        # a typo'd datasource must fail loudly, not leave a _tags dir
        # that makes later manifest listings look like an empty table
        raise FileNotFoundError(
            f"no managed table {data_source!r} under {table_root} "
            "(create_tag requires an existing _segments/ directory)"
        )
    horizon = history_horizon(table_root, data_source)
    if as_of is None:
        stamps = [m.published_at
                  for m in list_manifests(table_root, data_source)
                  if m.published_at is not None]
        if not stamps:
            raise ValueError(
                f"cannot tag {data_source}: no stamped manifests (publish "
                "at least one segment, or pass as_of= explicitly)"
            )
        stamp = max(stamps, key=_parse_as_of)
        if horizon is not None and horizon > _parse_as_of(stamp):
            # a vacuum moved the horizon past the last publish; the
            # CURRENT view is exactly the view at the horizon (reads AT
            # the horizon are allowed), so pin there
            stamp = horizon.isoformat()
    else:
        if isinstance(as_of, str) and as_of.startswith(TAG_AS_OF_PREFIX):
            raise ValueError("create_tag takes an instant, not another tag")
        stamp = _parse_as_of(as_of).isoformat()
        if _parse_as_of(stamp) > datetime.now(timezone.utc):
            # a future instant would become a standing vacuum retention
            # floor that later drives the history horizon into the
            # future, bricking every legitimate as_of until it passes
            raise ValueError(
                f"cannot tag as_of={stamp}: it is in the future (tags pin "
                "views that exist; pin now and re-tag later instead)"
            )
    if horizon is not None and _parse_as_of(stamp) < horizon:
        raise ValueError(
            f"cannot tag as_of={stamp}: it predates the history horizon "
            f"{horizon.isoformat()} (that view was physically vacuumed)"
        )
    if not replace and fs.exists(path):
        raise ValueError(
            f"tag {name!r} already exists on {data_source} (tags are "
            "immutable; pass replace=True to move it)"
        )
    obj = {"name": name, "asOf": stamp, "createdAt": publish_stamp()}
    fs.mkdirs(fs.parent(path))
    fs.put_text(path, json.dumps(obj, indent=2))
    # TOCTOU vs a concurrent vacuum (ADVICE r8): a vacuum sweep already
    # past its list_tags when this tag landed does not see it as a
    # retention floor, so the just-tagged view may be reclaimed and the
    # horizon advanced past the pin immediately after this put. Re-read
    # the horizon AFTER the tag is durable: if it moved past the pinned
    # instant, the tag is dangling — delete it and fail loudly rather
    # than hand back a tag whose view is gone.
    # An IN-FLIGHT vacuum may have enumerated tags before this one landed
    # and not yet advanced the horizon — its sweep can still reclaim the
    # just-pinned view. The maintenance lease makes that state visible:
    # refuse (removing the tag) rather than return a pin the running
    # sweep does not honor. Checked BEFORE the horizon re-read: a vacuum
    # that misses this tag either still holds the lease here (caught
    # below) or has already written its horizon (caught by the re-read)
    # — a vacuum acquiring AFTER this check necessarily lists the tag.
    from druid_hadoop_utils_spark.sources.lease import read_lease

    live = read_lease(table_root, data_source)
    if live is not None and live.get("op") == "vacuum":
        fs.delete_file(path)
        raise ValueError(
            f"cannot tag {data_source} while a vacuum is running (lease "
            f"held by pid {live.get('pid')} on {live.get('host')}): the "
            "sweep may not see the new tag as a retention floor — retry "
            "after it finishes"
        )
    post_horizon = history_horizon(table_root, data_source)
    if post_horizon is not None and _parse_as_of(stamp) < post_horizon:
        fs.delete_file(path)
        raise ValueError(
            f"tag {name!r} lost a race with a concurrent vacuum: the "
            f"history horizon advanced to {post_horizon.isoformat()} "
            f"past the pinned instant {stamp} while the tag was being "
            "written — the tagged view has been physically reclaimed; "
            "re-tag the current view"
        )
    return obj


def delete_tag(table_root: str, data_source: str, name: str) -> bool:
    """Remove a tag; returns False when it did not exist. The next
    ``vacuum`` may then reclaim segments only that tagged view needed."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    path = _tag_path(fs, table_root, data_source, name)
    if not fs.exists(path):
        return False
    fs.delete_file(path)
    return True


def list_tags(table_root: str, data_source: str) -> list[dict]:
    """All tags on a table, oldest pinned instant first."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    tdir = fs.join(table_root, data_source, MANIFEST_DIR, TAGS_DIR)
    if not fs.isdir(tdir):
        return []
    out = []
    for fname in fs.ls(tdir):
        if fname.endswith(".json") and not fname.endswith(".tmp"):
            out.append(json.loads(fs.read_text(fs.join(tdir, fname))))
    out.sort(key=lambda t: (t["asOf"], t["name"]))
    return out


def resolve_as_of(table_root: str, data_source: str, as_of):
    """Map an ``as_of`` of the form ``"tag:<name>"`` to the tag's pinned
    instant; any other value passes through unchanged. Callers that
    fingerprint queries (the result cache) resolve BEFORE hashing, so a
    replaced tag can never serve a stale cached view."""
    if not (isinstance(as_of, str) and as_of.startswith(TAG_AS_OF_PREFIX)):
        return as_of
    from druid_hadoop_utils_spark.sources.fs import get_fs

    name = as_of[len(TAG_AS_OF_PREFIX):]
    fs = get_fs(table_root)
    path = _tag_path(fs, table_root, data_source, name)
    # "missing" is decided by an explicit existence probe, not by
    # guessing exception types: a provably-absent tag gets the helpful
    # ValueError on every backend (some raise plain OSError for missing
    # objects), while read errors on an EXISTING tag propagate as the
    # transient I/O faults they are
    if not fs.exists(path):
        known = [t["name"] for t in list_tags(table_root, data_source)]
        raise ValueError(
            f"unknown tag {name!r} on {data_source} (tags: {known})"
        )
    return json.loads(fs.read_text(path))["asOf"]


#: snapshot files sort BEFORE other manifest names (listing order makes
#: the snapshot's copy of a duplicated entry win — see list_manifests)
SNAPSHOT_PREFIX = "0-snapshot-"


def compact_manifests(table_root: str, data_source: str) -> str | None:
    """Compact every ``_segments/*.json`` file into ONE snapshot file, so
    a table with 100k segments lists its timeline in a single metadata
    read instead of 100k small-object reads — the driver-side planning
    cost that dominates at object-store scale.

    Protocol (no rename, crash-safe at every step): write the snapshot
    (atomic put via the filesystem seam), then delete the source files.
    A crash in between leaves duplicates, which ``list_manifests``
    dedups by identity and a re-run cleans up. New publishes keep
    writing ordinary per-segment files beside the snapshot; periodic
    re-compaction folds them in — the same accumulate-then-compact
    rhythm the segment data itself uses.

    Runs under the table's maintenance lease (``sources/lease.py``):
    racing a concurrent ``vacuum`` could rebuild the snapshot from a
    pre-vacuum listing and resurrect entries whose data dirs the vacuum
    just deleted. Raises ``MaintenanceLockHeld`` instead.

    Returns the snapshot path (None when there is nothing to compact).
    """
    from druid_hadoop_utils_spark.sources.lease import maintenance_lease

    with maintenance_lease(table_root, data_source, "compact_manifests"):
        return _compact_manifests_locked(table_root, data_source)


def _compact_manifests_locked(table_root: str, data_source: str) -> str | None:
    import uuid

    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    mdir = fs.join(table_root, data_source, MANIFEST_DIR)
    names = [n for n in fs.ls(mdir)
             if n.endswith(".json") and not n.endswith(".tmp")
             and not n.startswith("_")]
    if not names:
        return None
    entries: list[dict] = []
    seen_blobs: set[str] = set()
    for name in names:
        obj = json.loads(fs.read_text(fs.join(mdir, name)))
        members = obj["snapshot"] if "snapshot" in obj else [obj]
        for m in members:
            blob = json.dumps(m, sort_keys=True)
            if blob not in seen_blobs:
                seen_blobs.add(blob)
                entries.append(m)
    snap_name = f"{SNAPSHOT_PREFIX}{uuid.uuid4().hex[:8]}.json"
    fs.put_text(fs.join(mdir, snap_name),
                json.dumps({"snapshot": entries}, indent=1))
    # the snapshot is committed; the old files are now redundant copies,
    # so reclaim them with overlapped round-trips (fs.py bulk contract)
    fs.delete_files(fs.join(mdir, name) for name in names)
    return fs.join(mdir, snap_name)


def timeline_version(table_root: str, data_source: str, as_of=None) -> str:
    """Version stamp for a managed table's segment timeline: the md5 of
    the sorted manifest identifiers. Any publish, compaction, drop,
    retention sweep, or vacuum changes it — without scanning a single
    data row — so derived artifacts (ANN indexes, cached query results,
    materialized states) can detect staleness by comparing one string.

    Druid's broker result cache keys on (segment id, query) for the same
    reason (public Druid CacheStrategy design); here the whole-timeline
    hash is the coarser single-key variant that matches this engine's
    driver-side manifest planning."""
    try:
        return timeline_version_of(
            list_manifests(table_root, data_source, as_of=as_of))
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no segments for {data_source} under {table_root}"
        ) from None


def timeline_version_of(manifests) -> str:
    """``timeline_version`` computed from an ALREADY-LISTED manifest set
    — for callers that must derive the version AND other state from ONE
    listing snapshot (e.g. ``compact_postings`` names its tree by the
    same snapshot it reads, so a publish racing the two can only make
    the tree stale-named, never current-but-incomplete)."""
    import hashlib

    idents = sorted(m.identifier for m in manifests)
    if not idents:
        raise FileNotFoundError("no segments in manifest listing")
    return hashlib.md5("\n".join(idents).encode()).hexdigest()


class _MaxKey:
    """Inverts tuple ordering so heapq's min-heap acts as a max-heap over
    (version, start, end) keys (version strings compare lexicographically,
    as in Druid)."""

    __slots__ = ("k",)

    def __init__(self, k):
        self.k = k

    def __lt__(self, other):
        return self.k > other.k


def resolve_visible_windows(
    manifests: list[SegmentManifest], query_interval: Interval
) -> list[WindowedSegment]:
    """Versioned-timeline lookup: max version wins at every instant.

    A true boundary sweep — O(n log n) in segment count, which matters when
    hourly ingest produces tens of thousands of segments: shards group into
    (interval, version) chunks; chunks enter/leave an active set as the
    sweep passes their boundaries; the visible chunk per elementary cell is
    the max of a lazy-deletion heap keyed on (version, start, end). The
    same-version-different-interval tie-break (newest interval wins —
    pathological; Druid's publish protocol prevents it) is folded into that
    key. Adjacent windows per segment are merged.
    """
    relevant = [m for m in manifests if m.interval.overlaps(query_interval)]
    if not relevant:
        return []

    # all shards of one (interval, version) are visible together — Druid's
    # timeline entry / partition-chunk grouping
    chunks: dict[tuple, list[SegmentManifest]] = {}
    for m in relevant:
        chunks.setdefault((m.interval.start, m.interval.end, m.version), []).append(m)

    points = {query_interval.start, query_interval.end}
    for s, e, _v in chunks:
        if query_interval.contains_point(s):
            points.add(s)
        if query_interval.contains_point(e):
            points.add(e)
    bounds = sorted(points)

    keys = sorted(chunks)  # by (start, end, version): admission order
    version_heap: list = []  # (_MaxKey((version, start, end)), chunk key)
    end_heap: list = []  # (end, chunk key) — expiry order
    active: set = set()
    i = 0
    windows: dict[SegmentManifest, list[Interval]] = {}
    for lo, hi in zip(bounds, bounds[1:]):
        while i < len(keys) and keys[i][0] <= lo:
            key = keys[i]
            i += 1
            s, e, v = key
            if e > lo:  # chunk still alive at this cell
                active.add(key)
                heapq.heappush(version_heap, (_MaxKey((v, s, e)), key))
                heapq.heappush(end_heap, (e, key))
        while end_heap and end_heap[0][0] <= lo:
            active.discard(heapq.heappop(end_heap)[1])
        while version_heap and version_heap[0][1] not in active:
            heapq.heappop(version_heap)  # lazy deletion of expired chunks
        if not version_heap:
            continue
        cell = Interval(lo, hi)
        for m in chunks[version_heap[0][1]]:
            windows.setdefault(m, []).append(cell)

    out = []
    for m, cells in windows.items():
        out.append(WindowedSegment(m, tuple(merge_adjacent(cells))))
    out.sort(key=lambda w: (w.manifest.interval.start, w.manifest.version, w.manifest.shard_num))
    return out


def visible_fingerprint(
    manifests: list[SegmentManifest], intervals: list[Interval]
) -> dict[str, tuple]:
    """Identity of each interval's VISIBLE timeline — the optimistic-
    concurrency check behind row-level DML (the Delta/Iceberg commit
    check, expressed over the segment timeline).

    For each interval: a tuple of (window span, manifest interval,
    version, shard, publishedAt, tombstone) for every window visible
    inside it. Deliberately a function of the LOGICAL visible timeline,
    not of manifest files or data paths, so it is insensitive to
    maintenance that preserves visibility — ``compact_manifests``
    (rewrites files, same entries) and ``vacuum`` (removes only
    fully-overshadowed entries) — while ANY intervening publish into the
    interval (ingest, compaction, another DML, retention tombstone)
    changes it. Re-checked at DML commit time under the commit lease
    (sources/dml.py): entry != commit ⇒ the base rows the rewrite was
    computed from are no longer the visible truth ⇒ refuse.
    """
    out: dict[str, tuple] = {}
    for iv in intervals:
        wins = []
        for w in resolve_visible_windows(manifests, iv):
            m = w.manifest
            for cell in w.windows:
                wins.append((cell.iso(), m.interval.iso(), m.version,
                             m.shard_num, m.published_at or "",
                             m.tombstone))
        out[iv.iso()] = tuple(sorted(wins))
    return out


def _resolve_full_span(manifests: list[SegmentManifest]):
    """Visible windows of ``manifests`` over their full covered span —
    the recurring idiom behind table_history/diff_views/restore_to."""
    lo = min(m.interval.start for m in manifests)
    hi = max(m.interval.end for m in manifests)
    return resolve_visible_windows(manifests, Interval(lo, hi))


def resolve_path_views(table_root: str, data_source: str, as_of_a,
                       as_of_b=None) -> tuple[dict, dict]:
    """The two resolved views behind ``diff_views`` / ``read_changes``
    (sources/changes.py): ``path → visible-window resolution`` maps for
    views A and B, from ONE manifest listing. Tombstones carry no data
    and are excluded; ``as_of=None`` means the CURRENT view. Both
    instants must be at or after the vacuum horizon — earlier views are
    physically unreconstructible."""
    manifests = list_manifests(table_root, data_source)
    horizon = history_horizon(table_root, data_source)

    def _view(as_of):
        ms = manifests
        if as_of is not None:
            inst = _parse_as_of(resolve_as_of(table_root, data_source,
                                              as_of))
            if horizon is not None and inst < horizon:
                raise ValueError(
                    f"as_of={inst.isoformat()} predates this table's "
                    f"history horizon {horizon.isoformat()}")
            ms = [m for m in manifests
                  if _published_within(m.published_at, inst)]
        if not ms:
            return {}
        return {
            w.manifest.path: w
            for w in _resolve_full_span(ms)
            if not w.manifest.tombstone
        }

    return _view(as_of_a), _view(as_of_b)


def diff_views(table_root: str, data_source: str, as_of_a,
               as_of_b=None) -> dict:
    """What changed between two views of a managed table — instants or
    ``"tag:<name>"``s; ``as_of_b=None`` means the CURRENT view. The
    audit companion to ``table_history``: "what did the corpus gain or
    lose between training run A and run B" as three lists of segment
    descriptors, keyed by DATA identity (path), so a ``restore_to``
    re-announce of the same bytes does not read as a change:

    - ``added``   — data visible in B but not in A
    - ``removed`` — data visible in A but not in B
    - ``rewindowed`` — same data dir, different visibility windows
      (a partial overshadow appeared or went away)

    Driver-side metadata only: ONE manifest listing (each view is an
    in-memory filter of it — the restore_to round-trip principle), two
    timeline resolutions, no data read. Both instants must be at or
    after the vacuum horizon."""
    a, b = resolve_path_views(table_root, data_source, as_of_a, as_of_b)

    def _desc(w):
        return {
            "identifier": w.manifest.identifier,
            "interval": w.manifest.interval.iso(),
            "version": w.manifest.version,
            "path": w.manifest.path,
            "windows": [win.iso() for win in w.windows],
        }

    return {
        "added": [_desc(w) for p, w in sorted(b.items()) if p not in a],
        "removed": [_desc(w) for p, w in sorted(a.items()) if p not in b],
        "rewindowed": [
            {"a": _desc(a[p]), "b": _desc(b[p])}
            for p in sorted(set(a) & set(b))
            if a[p].windows != b[p].windows
        ],
    }
