"""Row-level change feed between two views of a managed segment table.

``read_changes(spark, root, ds, as_of_a, as_of_b)`` answers "what rows
did this table gain or lose between training run A and run B" — the
incremental-consumption primitive (the Delta CDF / Iceberg
incremental-scan analogue) expressed over this engine's versioned
segment timeline. The reference has no DML and therefore no change
feed; this extends its overshadow model (DruidStoragePlan timeline
semantics, SURVEY.md §2 S2) the same way sources/dml.py extends its
write path.

Scale design — the whole point at 100 TB:

- **O(changed bytes), not O(table).** The file set comes from the
  segment-level ``diff_views`` resolution (driver-side metadata only);
  only segments whose visibility differs between the two views are
  read. A naive CDC diff (full-outer anti-join of two snapshots) scans
  the whole table twice and shuffles it; this never touches untouched
  buckets.
- **Windows become pushed time predicates.** Partial-overshadow
  windows translate to ``__time`` range filters on the scan, grouped by
  identical window set exactly like the planner's fast path
  (plans/planner.py _scan_segments) — one scan per distinct window
  pattern, pushdown and pruning intact.
- **Rewrite cancellation is one hash aggregate over changed rows.**
  ``mode="logical"`` nets the two sides by full-row multiset (map-side
  partial counts, single shuffle on the changed rows only), so a
  compaction or ``restore_to`` — which rewrites/re-announces identical
  bytes under new paths — nets to ZERO changes, while a DML rewrite of
  the same bucket nets to exactly its updates. No driver-side row
  handling anywhere.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.intervals import Interval, merge_adjacent
from druid_hadoop_utils_spark.sources.segments import (
    read_segments,
    resolve_path_views,
    segments_schema,
)

#: stored segment time column (plans/planner.py TIME_COL)
_TIME_COL = "__time"

#: change-feed metadata columns appended after the data columns
CHANGE_TYPE_COL = "_change_type"
CHANGE_COUNT_COL = "_n"

#: sentinel "view before the first publish" — a feed FROM here is the
#: full initial snapshot as inserts (first run of an incremental
#: consumer). Not an instant, so the vacuum-horizon check doesn't apply.
GENESIS = "genesis"


def _subtract(windows: list[Interval],
              covers: list[Interval]) -> tuple[Interval, ...]:
    """Pieces of ``windows`` not covered by ``covers`` — per-path window
    arithmetic, so a view whose window merely SPLIT (partial overshadow
    landed) contributes only the newly hidden/revealed span, not the
    whole segment."""
    from druid_hadoop_utils_spark.sources.maintenance import (
        _subtract_intervals,
    )

    covers = merge_adjacent(list(covers))
    out: list[Interval] = []
    for w in merge_adjacent(list(windows)):
        out.extend(_subtract_intervals(w, covers))
    return tuple(out)


def _views(table_root: str, data_source: str, as_of_a, as_of_b):
    if as_of_a == GENESIS:
        _, b = resolve_path_views(table_root, data_source, as_of_b,
                                  as_of_b)
        return {}, b
    return resolve_path_views(table_root, data_source, as_of_a, as_of_b)


def changed_windows(table_root: str, data_source: str, as_of_a,
                    as_of_b=None) -> dict[str, dict[str, tuple]]:
    """Driver-side plan of the change feed: for every segment path whose
    visibility differs between view A and view B, ``"insert"`` = the
    exact windows that are B-only (rows GAINED), ``"delete"`` = A-only
    (rows LOST), and ``"interval"`` = the segment's full interval (lets
    the reader collapse whole-segment changes into predicate-free
    scans). Metadata only — one manifest listing, two timeline
    resolutions, interval subtraction; the cost pin for
    ``read_changes`` (tests assert its scans stay inside this file
    set)."""
    return _changed_windows_of(*_views(table_root, data_source, as_of_a,
                                       as_of_b))


def _changed_windows_of(a: dict, b: dict) -> dict[str, dict[str, tuple]]:
    out: dict[str, dict[str, tuple]] = {}
    for path in sorted(set(a) | set(b)):
        w = b[path] if path in b else a[path]
        a_wins = list(a[path].windows) if path in a else []
        b_wins = list(b[path].windows) if path in b else []
        gained = _subtract(b_wins, a_wins)
        lost = _subtract(a_wins, b_wins)
        if gained or lost:
            out[path] = {"insert": gained, "delete": lost,
                         "interval": w.manifest.interval}
    return out


def _read_side(spark: SparkSession, plan: dict, side: str,
               schema) -> DataFrame | None:
    """One tagged DataFrame for the insert or delete side. Paths whose
    changed windows cover their WHOLE segment interval (the common case
    — a replaced or added bucket) collapse into a SINGLE predicate-free
    multi-path scan, exactly like the planner's fully-visible fast path
    (plans/planner.py); only genuinely clipped paths (partial
    overshadow) get per-window-pattern scans with pushed ``__time``
    range predicates. Without the collapse a 1000-bucket DML rewrite
    would plan 1000 scan nodes instead of 2."""
    from druid_hadoop_utils_spark.plans.planner import interval_sql

    full_paths: list[str] = []
    grouped: dict[tuple, list[str]] = defaultdict(list)
    for path, sides in plan.items():
        wins = sides[side]
        if not wins:
            continue
        if wins == (sides["interval"],):
            full_paths.append(path)
        else:
            grouped[wins].append(path)
    parts: list[DataFrame] = []
    if full_paths:
        parts.append(read_segments(spark, sorted(full_paths), schema))
    for windows, paths in sorted(grouped.items(),
                                 key=lambda kv: (kv[1][0],)):
        parts.append(read_segments(spark, paths, schema)
                     .where(interval_sql(windows, _TIME_COL)))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out.withColumn(
        CHANGE_TYPE_COL, F.lit("insert" if side == "insert" else "delete"))


def _feed_projection(available: list[str], columns: list[str]) -> list[str]:
    """Validate a feed projection against the table's columns — loud on
    a miss so a typo can't silently produce an all-NULL netting key."""
    missing = [c for c in columns if c not in available]
    if missing:
        raise ValueError(
            f"columns {missing} not in table columns {sorted(available)}")
    if len(set(columns)) != len(columns):
        dupes = sorted({c for c in columns if columns.count(c) > 1})
        raise ValueError(
            f"duplicate columns in projection: {dupes} (the netting "
            "aggregate groups by each projected column once)")
    return list(columns)


def read_changes(spark: SparkSession, table_root: str, data_source: str,
                 as_of_a, as_of_b=None, *,
                 mode: str = "logical",
                 columns: list[str] | None = None) -> DataFrame:
    """Rows gained/lost between view A and view B of a managed table,
    as a DataFrame of the table's columns plus ``_change_type``
    ('insert' | 'delete') and ``_n`` (multiset count). Views are
    instants or ``"tag:<name>"``s; ``as_of_b=None`` is the CURRENT view
    — "everything that changed since the tag my last run trained on".

    - ``mode="logical"`` (default): PHYSICAL rewrites of identical rows
      cancel — the two sides net by full-row multiset, so compaction,
      manifest-snapshot maintenance and ``restore_to`` produce an EMPTY
      feed, while DML produces exactly its net row changes (an UPDATE
      appears as one delete of the old row + one insert of the new).
      One row per DISTINCT changed row, ``_n`` = how many copies.
    - ``mode="physical"``: the raw sides, no netting — every row of
      every added/removed/re-exposed window, ``_n`` = 1. What a
      byte-accounting consumer (cache invalidation, replication) wants.

    Reads ONLY the segments in ``changed_windows`` — O(changed bytes);
    see the module docstring for the 100 TB rationale. Raises
    ``ValueError`` below the vacuum horizon (that view is gone) and
    ``FileNotFoundError`` for a table with no data in either view.

    Schema evolution (evolve-forward): a column that exists only in
    newer segments flows through ``unionByName(allowMissingColumns=
    True)`` — feed rows read from older segments carry NULL in the new
    column, and logical netting treats that NULL as a value (two
    physically identical old-schema rows still cancel). The caught-up
    EMPTY feed probes the newest announced segment's footer, so its
    schema also carries every evolved column.

    ``columns`` projects the feed to just those table columns BEFORE
    netting — the 100 TB knob for a consumer of 2 columns out of 50:
    the projection reaches the parquet scan (only those columns' bytes
    are read; ``__time`` still prunes as a pushed predicate without
    being read), and logical mode nets by the PROJECTED row multiset.
    Projected-netting semantics: a change that only touches columns
    OUTSIDE the projection nets to an EMPTY feed — exactly "nothing I
    care about changed". This is sound against the changed-windows
    restriction because an unchanged window contributes identical
    projected multisets to both sides (zero net), so the per-changed-
    window net equals the global projected net. Projecting AWAY a map
    column also lifts logical mode's MapType netting refusal — net on
    the groupable columns you kept.
    """
    if mode not in ("logical", "physical"):
        raise ValueError(f"mode must be 'logical' or 'physical', not {mode!r}")
    if columns is not None:
        bad = [c for c in columns
               if c in (CHANGE_TYPE_COL, CHANGE_COUNT_COL)]
        if bad or not columns:
            raise ValueError(
                f"columns must name table columns only (got {columns!r}; "
                f"{CHANGE_TYPE_COL}/{CHANGE_COUNT_COL} are added by the "
                "feed)")
    a, b = _views(table_root, data_source, as_of_a, as_of_b)
    plan = _changed_windows_of(a, b)
    # one schema for both sides, merged from the changed segments'
    # manifests (segments_schema; mergeSchema when one records none)
    schema = segments_schema([(b.get(p) or a[p]).manifest for p in plan])
    ins = _read_side(spark, plan, "insert", schema)
    del_ = _read_side(spark, plan, "delete", schema)

    if ins is None and del_ is None:
        # no visibility change at all: a correctly-shaped EMPTY feed.
        # This is the CAUGHT-UP consumer's every-poll path, so the
        # schema probe must stay O(1): ONE footer read of the newest
        # announced segment (new columns appear in newer segments under
        # the evolve-forward convention), never a mergeSchema pass over
        # the whole view — that would be 10k footer reads per idle poll
        # on a 10k-segment table.
        view = b or a
        if not view:
            raise FileNotFoundError(
                f"no visible segments for {data_source} in either view")
        # published_at stamps are PARSED, not string-compared, so mixed
        # formats ('Z' vs '+00:00', differing sub-second precision)
        # can't pick an older segment — same sort key as latest_stamp /
        # consumer_lag. Under the evolve-forward convention the newest
        # segment's footer carries every column.
        from druid_hadoop_utils_spark.sources.segments import _parse_as_of

        _epoch = _parse_as_of("1970-01-01T00:00:00+00:00")
        newest = max(
            view.values(),
            key=lambda w: (
                _parse_as_of(w.manifest.published_at)
                if w.manifest.published_at else _epoch,
                w.manifest.version,
            ),
        ).manifest
        probe = read_segments(spark, [newest.path],
                              segments_schema([newest])).limit(0)
        if columns is not None:
            probe = probe.select(*_feed_projection(probe.columns, columns))
        return (probe
                .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
                .withColumn(CHANGE_COUNT_COL, F.lit(1).cast("long"))
                .where(F.lit(False)))

    both = ins if del_ is None else (
        del_ if ins is None else ins.unionByName(
            del_, allowMissingColumns=True))
    if columns is not None:
        data = [c for c in both.columns if c != CHANGE_TYPE_COL]
        both = both.select(*_feed_projection(data, columns),
                           CHANGE_TYPE_COL)
    if mode == "physical":
        return both.withColumn(CHANGE_COUNT_COL, F.lit(1).cast("long"))

    # logical netting: one hash aggregate over the changed rows only —
    # +1 per insert-side copy, −1 per delete-side copy, net 0 drops out.
    # Map-side partial aggregation makes the shuffle carry (row, ±k)
    # pairs, not raw copies.
    from pyspark.sql.types import MapType

    unmappable = [f.name for f in both.schema.fields
                  if isinstance(f.dataType, MapType)]
    if unmappable:
        raise ValueError(
            f"read_changes(mode='logical') cannot net rows containing "
            f"map columns {unmappable} (Spark cannot group by MapType); "
            "use mode='physical', or restructure the column as "
            "array<struct<key,value>>")
    data_cols = [c for c in both.columns if c != CHANGE_TYPE_COL]
    signed = F.when(F.col(CHANGE_TYPE_COL) == "insert",
                    F.lit(1)).otherwise(F.lit(-1))
    net = (both.groupBy(*data_cols)
           .agg(F.sum(signed).alias("__net"))
           .where(F.col("__net") != 0))
    return net.select(
        *data_cols,
        F.when(F.col("__net") > 0, F.lit("insert"))
         .otherwise(F.lit("delete")).alias(CHANGE_TYPE_COL),
        F.abs(F.col("__net")).cast("long").alias(CHANGE_COUNT_COL))


# =====================================================================
# checkpointed incremental consumption
# =====================================================================

def latest_stamp(table_root: str, data_source: str) -> str:
    """The table's newest ``publishedAt`` announce stamp — the instant
    a consumer records after processing everything currently visible.
    Stamps clamp to max(existing)+1µs at announce (sources/segments.py),
    so later publishes always stamp strictly above this."""
    from druid_hadoop_utils_spark.sources.segments import list_manifests

    stamps = [m.published_at
              for m in list_manifests(table_root, data_source)
              if m.published_at is not None]
    if not stamps:
        raise FileNotFoundError(
            f"no stamped manifests for {data_source} under {table_root} "
            "(nothing published yet, or a pre-stamp legacy table)")
    from druid_hadoop_utils_spark.sources.segments import _parse_as_of

    return max(stamps, key=_parse_as_of)


def read_checkpoint(checkpoint_path: str) -> str | None:
    """The last committed consume instant, or None before first commit."""
    import json

    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(checkpoint_path)
    if not fs.exists(checkpoint_path):
        return None
    return json.loads(fs.read_text(checkpoint_path))["asOf"]


def commit_consumed(checkpoint_path: str, token: str) -> None:
    """Record ``token`` (from ``consume_changes``) as consumed — ONE
    atomic metadata put. Call AFTER the feed's results are durably
    processed: crash-before-commit re-delivers the same feed next run
    (at-least-once), never skips."""
    import json

    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(checkpoint_path)
    fs.mkdirs(fs.parent(checkpoint_path))
    fs.put_text(checkpoint_path, json.dumps(
        {"asOf": token, "committedAt": _now_stamp()}, indent=2))


def _now_stamp() -> str:
    from druid_hadoop_utils_spark.sources.segments import publish_stamp

    return publish_stamp()


def consumer_lag(table_root: str, data_source: str,
                 checkpoint_path: str) -> dict:
    """How far a consumer's checkpoint trails the table — the ops
    metric that sizes ``vacuum(retain_history_s=)``: retention must
    exceed every consumer's worst-case ``behind_s`` or a slow consumer
    falls off the horizon and must re-baseline. Driver-side metadata
    only (one manifest listing).

    Returns ``{"consumed_as_of", "latest", "behind_s",
    "pending_announces"}`` — ``behind_s`` 0.0 and ``pending_announces``
    0 when fully caught up; ``consumed_as_of`` None (and ``behind_s``
    None) before the first commit."""
    from druid_hadoop_utils_spark.sources.segments import (
        _parse_as_of,
        list_manifests,
    )

    stamps = [m.published_at
              for m in list_manifests(table_root, data_source)
              if m.published_at is not None]
    if not stamps:
        raise FileNotFoundError(
            f"no stamped manifests for {data_source} under {table_root}")
    latest = max(stamps, key=_parse_as_of)
    last = read_checkpoint(checkpoint_path)
    if last is None:
        return {"consumed_as_of": None, "latest": latest,
                "behind_s": None, "pending_announces": len(stamps)}
    t_last = _parse_as_of(last)
    behind = (_parse_as_of(latest) - t_last).total_seconds()
    pending = sum(1 for s in stamps if _parse_as_of(s) > t_last)
    return {"consumed_as_of": last, "latest": latest,
            "behind_s": max(behind, 0.0),
            "pending_announces": pending}


def consume_changes(spark: SparkSession, table_root: str,
                    data_source: str, checkpoint_path: str, *,
                    mode: str = "logical",
                    columns: list[str] | None = None
                    ) -> tuple[DataFrame, str]:
    """Incremental-consumption step: everything that changed since the
    last committed checkpoint, plus the token to commit once processed.

        feed, token = consume_changes(spark, root, ds, ckpt)
        ...process feed...            # write features, update index
        commit_consumed(ckpt, token)  # durably mark it consumed

    First run (no checkpoint) delivers the FULL current view as inserts
    (``GENESIS``); later runs deliver only the net changes — each one
    O(changed bytes) via ``read_changes``. The feed's B side pins to the
    newest announce stamp AT CALL TIME, so a publish landing while the
    consumer is processing is neither half-consumed nor skipped — it
    waits whole for the next cycle. Crash before ``commit_consumed`` →
    the same feed recomputes next run (at-least-once delivery).

    A checkpoint older than the table's vacuum horizon raises
    ``ValueError`` — the consumer fell too far behind to reconstruct
    what it missed; re-baseline by deleting the checkpoint (full
    snapshot) or vacuum with ``retain_history_s`` sized to the
    consumer's worst-case lag."""
    token = latest_stamp(table_root, data_source)
    last = read_checkpoint(checkpoint_path)
    feed = read_changes(spark, table_root, data_source,
                        GENESIS if last is None else last, token,
                        mode=mode, columns=columns)
    return feed, token


# ------------------------------------------------- consumer registry

def consumer_checkpoint_path(table_root: str, data_source: str,
                             name: str) -> str:
    """The REGISTERED checkpoint convention:
    ``<root>/<ds>/_consumers/<name>.json``. ``consume_changes`` accepts
    any path, but checkpoints placed here are DISCOVERABLE — by
    ``list_consumers`` for ops dashboards, and by ``maintain_table``,
    which floors its vacuum retention at the slowest registered
    consumer so no one silently falls off the history horizon (the
    failure mode ``consumer_lag`` exists to warn about)."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    if not _valid_consumer_name(name):
        raise ValueError(f"consumer name must be a bare label: {name!r}")
    return fs.join(table_root, data_source, "_consumers", f"{name}.json")


def _valid_consumer_name(name: str) -> bool:
    """The registry's name rules — shared by ``consumer_checkpoint_path``
    (which refuses to CREATE outside them) and ``list_consumers`` (which
    refuses to INGEST outside them, so a stray `_tmp.json` or editor
    backup dropped into `_consumers/` can't pin the vacuum floor)."""
    return bool(name) and "/" not in name and not name.startswith("_")


def registered_consumer_names(table_root: str,
                              data_source: str) -> list[str]:
    """Sorted names of every REGISTERED consumer checkpoint — ONE
    directory listing filtered by the registry's name rules. The single
    source of truth for 'who is registered': ``list_consumers`` and
    ``maintenance._consumer_gauge`` both read it, so a naming-rule
    change can never make the dashboard and the lag listing disagree."""
    from druid_hadoop_utils_spark.sources.fs import get_fs

    fs = get_fs(table_root)
    cdir = fs.join(table_root, data_source, "_consumers")
    return sorted(e[:-len(".json")] for e in fs.ls(cdir)
                  if e.endswith(".json")
                  and _valid_consumer_name(e[:-len(".json")]))


def list_consumers(table_root: str, data_source: str) -> dict[str, dict]:
    """``consumer_lag`` for every REGISTERED consumer checkpoint
    (``consumer_checkpoint_path``) — ONE manifest listing shared across
    all consumers plus one metadata read per checkpoint (calling
    ``consumer_lag`` per consumer would re-list the timeline N times).
    Checkpoint reads overlap on the filesystem's bulk thread pool
    (``fs.bulk_parallelism``, the same width the vacuum sweeps use):
    on an object store with hundreds of registered consumers this is
    one RTT-bound pass, not hundreds of serial GETs — and this runs
    inside every ``maintain_table`` cycle.

    Entries that violate the registry's name rules (``_`` prefix, no
    bare label) are SKIPPED — a stray temp file can't masquerade as a
    consumer. A validly-named checkpoint whose read or parse FAILS is
    reported as ``{"error": ...}`` instead of propagating, so one
    corrupt file can't knock the whole dashboard out; retention-side,
    ``consumers_floor_as_of`` treats such an entry as fatal (its
    instant is unknown — see there).

    The ops dashboard view; for retention the oldest committed stamp
    here is the vacuum floor (``consumers_floor_as_of``), which
    ``maintain_table`` applies automatically."""
    from concurrent.futures import ThreadPoolExecutor

    from druid_hadoop_utils_spark.sources.fs import get_fs
    from druid_hadoop_utils_spark.sources.segments import (
        _parse_as_of,
        list_manifests,
    )

    fs = get_fs(table_root)
    cdir = fs.join(table_root, data_source, "_consumers")
    names = registered_consumer_names(table_root, data_source)
    if not names:
        return {}
    stamps = [m.published_at
              for m in list_manifests(table_root, data_source)
              if m.published_at is not None]
    if not stamps:
        raise FileNotFoundError(
            f"no stamped manifests for {data_source} under {table_root}")
    latest = max(stamps, key=_parse_as_of)

    class _ReadError:
        # a private sentinel TYPE, not a dict/tuple: a corrupt
        # checkpoint whose "asOf" VALUE happens to be a dict must fall
        # through to the unparseable-stamp branch, not collide with the
        # error wrapper
        def __init__(self, msg: str) -> None:
            self.msg = msg

    def _read(name: str):
        try:
            return read_checkpoint(fs.join(cdir, f"{name}.json"))
        except Exception as e:  # noqa: BLE001 — contained per entry
            return _ReadError(f"{type(e).__name__}: {e}")

    if len(names) == 1:
        reads = [_read(names[0])]
    else:
        width = min(fs.bulk_parallelism, len(names))
        with ThreadPoolExecutor(max_workers=width) as ex:
            reads = list(ex.map(_read, names))
    out: dict[str, dict] = {}
    for name, last in zip(names, reads):
        if isinstance(last, _ReadError):
            out[name] = {"error": last.msg, "consumed_as_of": None,
                         "latest": latest, "behind_s": None,
                         "pending_announces": None}
            continue
        if last is None:
            out[name] = {"consumed_as_of": None, "latest": latest,
                         "behind_s": None,
                         "pending_announces": len(stamps)}
            continue
        try:
            t_last = _parse_as_of(last)
        except Exception as e:  # noqa: BLE001 — malformed stamp value
            out[name] = {"error": f"unparseable asOf {last!r}: {e}",
                         "consumed_as_of": None, "latest": latest,
                         "behind_s": None, "pending_announces": None}
            continue
        behind = (_parse_as_of(latest) - t_last).total_seconds()
        out[name] = {
            "consumed_as_of": last, "latest": latest,
            "behind_s": max(behind, 0.0),
            "pending_announces": sum(
                1 for s in stamps if _parse_as_of(s) > t_last),
        }
    return out


def consumers_floor_as_of(table_root: str,
                          data_source: str) -> str | None:
    """The OLDEST committed consumer checkpoint stamp — the exact
    instant vacuum must not reclaim past (pass as ``vacuum(...,
    floor_as_of=)``; ``maintain_table`` does this automatically). An
    INSTANT, not a seconds budget, for the same reason tags pin
    instants: the view a consumer's next ``consume_changes`` diffs FROM
    is the view AT its checkpoint stamp, and converting to an age
    re-measures ``now`` at vacuum time — a clock race that can land the
    horizon microseconds past the checkpoint and refuse the very next
    consume. Consumers that never committed contribute nothing: their
    first run is a full snapshot by design. Returns None when no
    registered consumer has committed.

    A registered checkpoint that cannot be READ or parsed
    (``list_consumers`` reports it with ``"error"``) RAISES here rather
    than being skipped: its instant is unknown, and silently dropping
    it would compute a floor ABOVE where that consumer may actually be
    — the destructive direction. ``maintain_table`` reacts by skipping
    vacuum for the cycle (safe); dashboards keep working through
    ``list_consumers``."""
    from druid_hadoop_utils_spark.sources.segments import _parse_as_of

    lags = list_consumers(table_root, data_source)
    broken = {n: lag["error"] for n, lag in lags.items() if "error" in lag}
    if broken:
        raise RuntimeError(
            "cannot compute consumer vacuum floor — unreadable "
            f"registered checkpoint(s): {broken}")
    stamps = [lag["consumed_as_of"] for lag in lags.values()
              if lag["consumed_as_of"] is not None]
    return min(stamps, key=_parse_as_of) if stamps else None
