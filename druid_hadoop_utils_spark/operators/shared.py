"""Size-gated materialization for multiply-consumed plan subtrees, with a
deterministic cache lifecycle (optimization guide §3.3, §5).

A frame consumed by several plan branches is either re-expanded by
Catalyst per consumer (the subtree — scan, tokenization, aggregation —
re-runs once per branch) or materialized once and read back by every
branch. Which is cheaper depends on the subtree's INPUT volume:

- below a few tens of MB, the extra materialization job and its block
  writes cost more than simply re-reading the columnar input per branch
  (measured in round 15: +0.3 s on q_text_lm_score at sf0.1, where the
  saved re-scan is ~0.6 MB);
- above it, re-computation grows linearly with the input while the
  materialization cost is bounded by the derived frame, which for every
  call site in this package is orders of magnitude smaller than its
  input (postings, distinct activity pairs, model tables).

``materialize_shared`` gates on the total size of the BASE RELATIONS
feeding the frame, not on the frame's own estimated size: recompute
cost is what the gate must track, and an output-size estimate gets the
aggregated-model case exactly wrong (a bigram model table is
vocab-bounded — small even when recomputing it means re-scanning a
100 TB corpus).

The threshold is ``spark.graft.shared.materialize.minInputBytes``
(default 16 MiB — set from the round-16 measured crossover, see
``DEFAULT_MIN_INPUT_BYTES``). ``0`` materializes unconditionally (how
the scale-shape plan evidence in plans/ is captured); a negative value
disables materialization.

Lifecycle (round 16). The materialization primitive is ``persist()``
with a per-call-site GENERATION ledger, replacing round 15's
``localCheckpoint(eager=False)``:

- ``persist`` keeps lineage, so on a real cluster a lost executor (spot
  kill, dynamic-allocation decommission) recomputes the lost blocks and
  the job survives. ``localCheckpoint`` truncates lineage and stores
  blocks unreplicated on executors — Spark documents it as incompatible
  with dynamic allocation; one lost executor kills the job. For a
  framework whose posture is 100 TB cluster runs that is the wrong
  default primitive (r15 ADVICE / VERDICT item 4).
- The session-lifetime CacheManager pin that round 14/15 fought (every
  crawl increment leaking one corpus-scale cached frame) is prevented
  DETERMINISTICALLY, not by GC timing: each call site releases its
  previous invocation's frames at the start of the next invocation
  (``fresh=True``), so a long-running session holds at most ONE
  generation per site, and ``release_shared()`` drops even that
  explicitly once the caller's action has completed.
- Releasing at call start also guarantees a re-invocation can never
  silently serve the previous call's cached blocks through Catalyst's
  plan-equality cache matching — every invocation recomputes from its
  inputs (bench repeats each pay the full computation; nothing persists
  across runs).

The only remaining ``localCheckpoint`` use in the package is the
ITERATIVE lineage truncation inside ``connected_components`` (dedup.py),
where the point is plan-size control across O(log n) rounds — persist
does not truncate lineage, so each round's plan would nest the previous
round's. Its docstring carries the executor-loss caveat; on clusters
with dynamic allocation, set a reliable checkpoint dir and checkpoint
the label table periodically instead.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

#: conf key for the gate threshold (bytes of leaf-relation input)
MIN_INPUT_BYTES_CONF = "spark.graft.shared.materialize.minInputBytes"

#: default 16 MiB, set EMPIRICALLY in round 16 (VERDICT item 6): on
#: realistically-compressed multi-file corpora bracketing the gate,
#: materialization beats per-consumer re-expansion for BOTH gated text
#: operators from ~13 MiB of leaf input up (lm_score 0.85x / bm25 0.90x
#: at 13 MiB; 0.70x / 0.76x at 27 MiB; 0.47x / 0.42x at 730 MiB —
#: full table and method in plans/r16/gate_crossover.md), while below
#: ~4 MiB the extra job + cache round trip is floor-bound noise either
#: way EXCEPT the single-file tiny corpus (the sf0.1 bench shape,
#: 0.6 MiB), where r15 measured inline 1.33x better — which a 16 MiB
#: gate keeps inline
DEFAULT_MIN_INPUT_BYTES = 16 * 1024 * 1024

# ------------------------------------------- deterministic persist ledger

_generations: dict[str, list[DataFrame]] = {}
_gen_lock = threading.Lock()


def release_shared(site: str | None = None) -> None:
    """Unpersist every frame tracked for ``site`` (every site when
    ``None``). Safe to call at any time: results stay correct — a frame
    released while a query still references its plan simply recomputes
    from lineage. Call it after the consuming action when a long-lived
    session should hold no cached generation at all."""
    with _gen_lock:
        if site is None:
            frames = [f for fs in _generations.values() for f in fs]
            _generations.clear()
        else:
            frames = _generations.pop(site, [])
    for f in frames:
        try:
            f.unpersist(blocking=False)
        except Exception:
            # session already stopped / JVM gone — nothing left to free
            pass


def persist_shared(df: DataFrame, site: str, fresh: bool = True) -> DataFrame:
    """``persist()`` a multiply-consumed frame under a call-site key.

    ``fresh=True`` (an operator invocation's FIRST shared frame) releases
    the site's previous generation before persisting, which keeps a
    long-lived session at one generation per site and makes every
    invocation recompute from its inputs (see module docstring). Pass
    ``fresh=False`` for additional frames persisted within the same
    invocation."""
    if fresh:
        release_shared(site)
    out = df.persist()
    with _gen_lock:
        _generations.setdefault(site, []).append(out)
    return out


def shared_generation_sites() -> dict[str, int]:
    """Snapshot of the ledger — {site: live frame count} (tests/probes)."""
    with _gen_lock:
        return {k: len(v) for k, v in _generations.items()}


# --------------------------------------------------------- size gate


def shared_input_bytes(df: DataFrame) -> int | None:
    """Total Catalyst-estimated size of the base relations feeding
    ``df`` — the recompute-cost proxy the materialization gate uses.
    Returns None when the estimate is unavailable (non-classic session);
    callers treat that as above-threshold (materializing is the
    scale-safe default)."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return sum(
            int(str(leaves.apply(i).stats().sizeInBytes()))
            for i in range(leaves.size())
        )
    except Exception:
        return None


def materialize_shared(
    df: DataFrame,
    min_input_bytes: int | None = None,
    site: str | None = None,
) -> DataFrame:
    """Materialize ``df`` (tracked ``persist``) when its base relations
    exceed the gate threshold; below it, return ``df`` unchanged and let
    Catalyst re-expand the subtree per consumer. See module docstring
    for the cost model and lifecycle. Results are identical either way —
    only the physical plan changes.

    ``site`` keys the generation ledger; it defaults to the caller's
    module:function so each operator call site manages its own
    generation."""
    if min_input_bytes is None:
        min_input_bytes = int(
            df.sparkSession.conf.get(
                MIN_INPUT_BYTES_CONF, str(DEFAULT_MIN_INPUT_BYTES)
            )
        )
    if min_input_bytes < 0:
        return df
    if min_input_bytes > 0:
        est = shared_input_bytes(df)
        if est is not None and est < min_input_bytes:
            return df
    if site is None:
        import inspect

        frame = inspect.currentframe().f_back
        site = f"{frame.f_globals.get('__name__', '?')}:{frame.f_code.co_name}"
    return persist_shared(df, site)
