"""The scripts under ``tools/``: every one compiles, every ``tools/``
script path that the package, the tests, the tools, README.md or
NOTES.md name exists, ``tools/ab.py`` rejects a malformed variant with
its usage message, and refuses a variant that changes an op's output."""

from __future__ import annotations

import importlib.util
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
TOOL_PATH = re.compile(r"\btools/(\w+\.py)\b")


def _texts():
    for base in ("druid_hadoop_utils_spark", "tests", "tools"):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            yield from (os.path.join(d, n) for n in names if n.endswith(".py"))
    yield from (os.path.join(ROOT, n) for n in ("README.md", "NOTES.md"))


def test_every_tool_compiles():
    for name in sorted(os.listdir(TOOLS)):
        if name.endswith(".py"):
            path = os.path.join(TOOLS, name)
            with open(path) as f:
                compile(f.read(), path, "exec")


def test_named_tool_paths_exist():
    missing = []
    for path in _texts():
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                missing += [f"{os.path.relpath(path, ROOT)}:{n}: tools/{m}"
                            for m in TOOL_PATH.findall(line)
                            if not os.path.isfile(os.path.join(TOOLS, m))]
    assert not missing, "dangling tool references:\n" + "\n".join(missing)


@pytest.mark.parametrize("spec", ["conf:spark.sql.adaptive.enabled", "conf:a=1,b",
                                  "py:contextlib", "py::nullcontext", "sql:x=1"])
def test_ab_rejects_malformed_variant(spec):
    load = importlib.util.spec_from_file_location("ab", os.path.join(TOOLS, "ab.py"))
    ab = importlib.util.module_from_spec(load)
    load.loader.exec_module(ab)
    with pytest.raises(SystemExit, match="neither conf:k=v"):
        ab.variant(spec)


VARIANT = '''
import contextlib

from druid_hadoop_utils_spark import api


@contextlib.contextmanager
def top3(workload):
    """topN queries keep 3 rows instead of their threshold."""
    original = api.druid_query

    def druid_query(spark, root, query, *args, **kwargs):
        if query.get("queryType") == "topN":
            query = {**query, "threshold": 3}
        return original(spark, root, query, *args, **kwargs)

    api.druid_query = druid_query
    try:
        yield
    finally:
        api.druid_query = original
'''


@pytest.mark.slow
def test_ab_names_the_op_a_variant_changes(tmp_path):
    (tmp_path / "ab_variant.py").write_text(VARIANT)
    env = {**os.environ, "PYTHONPATH": str(tmp_path)}
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "ab.py"), "--workload", "olap_ingest",
         "--class", "short", "--rounds", "1", "conf:", "py:ab_variant:top3"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 1, proc.stdout + proc.stderr[-2000:]
    assert "op 1 (T2_short) output differs" in proc.stderr
    assert proc.stdout == ""
