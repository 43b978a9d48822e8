"""Pieces the three workloads share: the op record, input fingerprints,
the order-insensitive result hash and the DuckDB oracle connection."""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from tracing import NULL_TRACER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: the repository's oracle gate (``tools/check_oracle.py``): the same
#: order-insensitive row hash the correctness battery compares with
check_oracle = _load_check_oracle()


@dataclass
class Mode:
    """What the runner switches on a workload (and its parts) for the
    traced run: the tracer, and whether queries collect their results
    instead of writing them to ``noop`` (so outputs hash without a
    re-run)."""

    tracer: Any = NULL_TRACER
    keep_outputs: bool = False


@dataclass
class Op:
    """One closed-loop operation. ``run`` is the timed region and returns
    whatever ``check`` (an error string or None) and ``digest`` (a stable
    output hash for the traced-vs-untraced comparison) need; both run
    after the timer stops. ``before`` prepares inputs, untimed."""

    name: str
    cls: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None] | None = None
    digest: Callable[[Any], str] | None = None
    before: Callable[[], None] | None = None


class Workload:
    """Base: a work directory of its own, a seed and an input fingerprint.
    Subclasses implement ``setup``, ``batches`` (the closed-loop stream,
    in whole batches) and ``detail_metrics``; ``warm_ops`` (untimed,
    their checks count), ``closing_ops`` and ``final_checks`` default to
    none."""

    def __init__(self, spark, work: str, seed: int, mode: Mode | None = None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.mode = mode or Mode()
        self.fingerprint = ""
        os.makedirs(work, exist_ok=True)

    @property
    def tracer(self):
        return self.mode.tracer

    def discard(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def _finish(self, df, keep: bool = False):
        """Run ``df`` to completion: ``(df, rows)`` when the rows are
        needed (a check, or ``keep_outputs``), else ``(df, None)``."""
        if keep or self.mode.keep_outputs:
            return df, df.collect()
        noop(df)
        return df, None

    def warm_ops(self) -> list[Op]:
        return []

    def closing_ops(self) -> list[Op]:
        return []

    def final_checks(self) -> list[str]:
        return []


def fingerprint(*arrays) -> str:
    """sha256 prefix over the generated input arrays (or byte strings)."""
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, np.ndarray):
            if a.dtype == object:   # holds pointers: hash the values instead
                a = a.astype(str)
            h.update(str(a.dtype).encode())
            h.update(np.ascontiguousarray(a).tobytes())
        else:
            h.update(a if isinstance(a, bytes) else str(a).encode())
    return h.hexdigest()[:16]


def rows_digest(out) -> str:
    """Order-insensitive hash of an op's ``(df, rows)`` result."""
    df, rows = out
    rows = [tuple(r) for r in (rows if rows is not None else df.collect())]
    return f"{len(rows)}:{check_oracle.table_hash(rows, df.columns)}"


def compare_rows(spark_rows: list[tuple], spark_cols: list[str],
                 oracle_rows: list[tuple], oracle_cols: list[str]) -> str | None:
    """None when both results hash-equal under the oracle gate's rules."""
    if len(spark_rows) != len(oracle_rows):
        return f"rows spark={len(spark_rows)} oracle={len(oracle_rows)}"
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    a = check_oracle.table_hash(spark_rows, spark_cols)
    b = check_oracle.table_hash(oracle_rows, oracle_cols)
    return None if a == b else f"hash spark={a} oracle={b}"


def zipf_choice(rng: np.random.Generator, n_values: int, size: int,
                s: float = 1.1) -> np.ndarray:
    """Indices 0..n_values-1 drawn with probability ~ 1/(rank+1)^s."""
    p = 1.0 / np.arange(1, n_values + 1) ** s
    return rng.choice(n_values, size=size, p=p / p.sum())


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..1) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def noop(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()
