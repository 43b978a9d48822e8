"""Property-based DimFilter semantics: random filter trees must evaluate
identically on Spark (filter_to_column) and a pure-Python reference
evaluator implementing the documented semantics — three-valued logic,
multi-value any-match, null≡'' missing handling, NOT(unknown)=True.

This pins the least-tested area of the reference (SURVEY.md §5: DimFilter
never exercised there) against an independent implementation.
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from druid_hadoop_utils_spark.functions.filters import filter_to_column

# fixed dataset: nulls, empties, multi-values, numeric-ish strings
ROWS = [
    {"id": 0, "s": "a", "arr": ["a"], "n": "1"},
    {"id": 1, "s": "b", "arr": ["a", "b"], "n": "10"},
    {"id": 2, "s": "ab", "arr": [], "n": "2"},
    {"id": 3, "s": "", "arr": ["b"], "n": "-3"},
    {"id": 4, "s": None, "arr": None, "n": None},
    {"id": 5, "s": "ba", "arr": ["ab", ""], "n": "x"},
    {"id": 6, "s": "A", "arr": ["a", "a"], "n": "10"},
]

VALUES = ["a", "b", "ab", "ba", "A", "", "1", "10", "x"]

leaf_selector = st.builds(
    lambda d, v: {"type": "selector", "dimension": d, "value": v},
    st.sampled_from(["s", "arr", "n"]), st.sampled_from(VALUES + [None]),
)
leaf_in = st.builds(
    lambda d, vs: {"type": "in", "dimension": d, "values": vs},
    st.sampled_from(["s", "arr", "n"]),
    st.lists(st.sampled_from(VALUES), min_size=0, max_size=3),
)
leaf_bound_lex = st.builds(
    lambda d, lo, hi, ls, us: {
        "type": "bound", "dimension": d,
        **({"lower": lo} if lo is not None else {}),
        **({"upper": hi} if hi is not None else {}),
        "lowerStrict": ls, "upperStrict": us,
    },
    st.sampled_from(["s", "arr"]),
    st.sampled_from(VALUES + [None]), st.sampled_from(VALUES + [None]),
    st.booleans(), st.booleans(),
)
leaf_bound_num = st.builds(
    lambda d, lo, hi, ls, us: {"type": "bound", "dimension": d,
                               "alphaNumeric": True, "lowerStrict": ls,
                               "upperStrict": us,
                               **({"lower": lo} if lo is not None else {}),
                               **({"upper": hi} if hi is not None else {})},
    st.sampled_from(["n", "s", "arr"]),
    st.sampled_from(["-5", "0", "1", "2", "10", "a9", "a10", "ab", "", None]),
    st.sampled_from(["-5", "0", "1", "2", "10", "a9", "a10", "ab", "", None]),
    st.booleans(), st.booleans(),
)
leaf_search = st.builds(
    lambda d, v, ins: {"type": "search", "dimension": d,
                       "query": {"type": "insensitive_contains" if ins else "contains",
                                 "value": v, "caseSensitive": not ins}},
    st.sampled_from(["s", "arr"]), st.sampled_from(["a", "b", "ab", "A"]),
    st.booleans(),
)
leaves = st.one_of(leaf_selector, leaf_in, leaf_bound_lex, leaf_bound_num, leaf_search)


def trees(depth: int = 2):
    if depth == 0:
        return leaves
    sub = trees(depth - 1)
    return st.one_of(
        leaves,
        st.builds(lambda fs: {"type": "and", "fields": fs}, st.lists(sub, min_size=1, max_size=3)),
        st.builds(lambda fs: {"type": "or", "fields": fs}, st.lists(sub, min_size=1, max_size=3)),
        st.builds(lambda f: {"type": "not", "field": f}, sub),
    )


# --- pure-Python reference evaluator (three-valued: True/False/None) ---

import re


def _an_chunks(s):
    return re.findall(r"[0-9]+|[^0-9]+", s)


def druid_alphanum_cmp(a, b):
    """Reference implementation of Druid 0.9's alphanumeric comparator:
    digit chunks compare as nonnegative integers, other chunks
    lexicographically, shorter chunk-list first on a tie."""
    ca, cb = _an_chunks(a), _an_chunks(b)
    for x, y in zip(ca, cb):
        if x.isdigit() and y.isdigit():
            xi, yi = int(x), int(y)
            if xi != yi:
                return -1 if xi < yi else 1
        elif x != y:
            return -1 if x < y else 1
    return (len(ca) > len(cb)) - (len(ca) < len(cb))

def _tri_and(vals):
    if any(v is False for v in vals):
        return False
    if any(v is None for v in vals):
        return None
    return True


def _tri_or(vals):
    if any(v is True for v in vals):
        return True
    if any(v is None for v in vals):
        return None
    return False


def _scalar_pred(spec, v):
    """Predicate on one scalar value; v may be None → None (unknown)."""
    t = spec["type"]
    if t == "selector":
        return None if v is None else v == spec["value"]
    if t == "in":
        non_null = [x for x in spec["values"] if x not in (None, "")]
        return None if v is None else v in non_null
    if t == "bound":
        if v is None:
            return None
        # alphaNumeric on a STRING column = Druid 0.9's chunked
        # natural-sort comparator (numeric columns would compare as
        # doubles, but every column in ROWS is a string)
        if spec.get("alphaNumeric"):
            ok = True
            if spec.get("lower") is not None:
                c = druid_alphanum_cmp(v, spec["lower"])
                ok = ok and (c > 0 if spec.get("lowerStrict") else c >= 0)
            if spec.get("upper") is not None:
                c = druid_alphanum_cmp(v, spec["upper"])
                ok = ok and (c < 0 if spec.get("upperStrict") else c <= 0)
            return ok
        ok = True
        if spec.get("lower") is not None:
            ok = ok and (v > spec["lower"] if spec.get("lowerStrict") else v >= spec["lower"])
        if spec.get("upper") is not None:
            ok = ok and (v < spec["upper"] if spec.get("upperStrict") else v <= spec["upper"])
        return ok
    if t == "search":
        if v is None:
            return None
        q = spec["query"]
        needle, hay = q["value"], v
        if q["type"] == "insensitive_contains" or not q.get("caseSensitive", True):
            return needle.lower() in hay.lower()
        return needle in hay
    raise AssertionError(t)


def py_eval(spec, row):
    t = spec["type"]
    if t == "and":
        return _tri_and([py_eval(f, row) for f in spec["fields"]])
    if t == "or":
        return _tri_or([py_eval(f, row) for f in spec["fields"]])
    if t == "not":
        inner = py_eval(spec["field"], row)
        return not (inner is True)  # ~coalesce(inner, False)

    dim = spec["dimension"]
    v = row[dim]
    is_arr = dim == "arr"

    # missing-value special cases first
    if t == "selector" and spec["value"] in (None, ""):
        if is_arr:
            return v is None or len(v) == 0
        return v is None or v == ""
    if t == "in":
        values = spec["values"]
        has_missing = any(x in (None, "") for x in values)
        base = None
        if is_arr:
            base = _tri_or([_scalar_pred(spec, x) for x in (v or [])]) if v else False
            base = bool(base) if base is not None else False
        else:
            base = _scalar_pred(spec, v)
            base = bool(base) if base is not None else False
        if has_missing:
            miss = (v is None or len(v) == 0) if is_arr else (v is None or v == "")
            return base or miss
        return base

    if is_arr:
        if v is None or len(v) == 0:
            # coalesce(exists/array_contains on null/empty, False)
            return False
        vals = [_scalar_pred(spec, x) for x in v]
        out = _tri_or(vals)
        return False if out is None else out
    return _scalar_pred(spec, v)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame([Row(**r) for r in ROWS])


@pytest.mark.slow
def test_natural_cmp_grid_matches_druid_comparator(spark):
    """All-pairs grid: the Catalyst natural comparator must agree with the
    Python reference of Druid 0.9's StringComparators.ALPHANUMERIC on
    tricky mixed strings (digit runs, leading zeros, punctuation chunk
    boundaries, empties, big numbers)."""
    from druid_hadoop_utils_spark.functions.filters import natural_cmp_sql
    from druid_hadoop_utils_spark.functions.sqltext import ident
    from pyspark.sql import functions as F

    vals = ["", "0", "7", "007", "10", "9", "a", "a9", "a10", "a.5", "a15",
            "ab", "a1b2", "a1b10", "-3", "-5", "1.2.3", "x10y", "x9y",
            "12345678901234567890123456789012345678901", "z"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    cols = []
    for j, b in enumerate(vals):
        lt, gt = natural_cmp_sql(ident("v"), b)
        cols += [F.expr(lt).alias(f"lt{j}"), F.expr(gt).alias(f"gt{j}")]
    rows = {r.v: r for r in df.select("v", *cols).collect()}
    for a in vals:
        for j, b in enumerate(vals):
            c = druid_alphanum_cmp(a, b)
            assert rows[a][f"lt{j}"] == (c < 0), (a, b)
            assert rows[a][f"gt{j}"] == (c > 0), (a, b)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(trees())
@pytest.mark.slow
def test_random_filter_trees_match_reference_semantics(df, flt):
    spark_ids = sorted(
        r.id for r in df.where(filter_to_column(flt, df.schema)).select("id").collect()
    )
    py_ids = sorted(r["id"] for r in ROWS if py_eval(flt, r) is True)
    assert spark_ids == py_ids, f"filter {flt}"
