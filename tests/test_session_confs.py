"""Every conf the engine sets on a running session is a runtime conf.

Setting a static one raises CANNOT_MODIFY_STATIC_CONFIG on every call,
a py4j round trip that a ``try/except`` hides; static confs belong in
``session.get_spark``'s builder. Keys are read from the package source,
so a new ``conf.set`` site is checked without a test edit.
"""

from __future__ import annotations

import ast
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent / "sports_betting_data_pipeline_spark"


def _conf_sets():
    """(file name, innermost enclosing function, key node, line) of
    every ``conf.set`` call in the package."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if isinstance(child, ast.Call) and ast.unparse(child.func).endswith(".conf.set"):
                yield fn, child.args[0], child.lineno
            yield from walk(child, fn)

    for path in sorted(_PKG.rglob("*.py")):
        for fn, key, line in walk(ast.parse(path.read_text()), "<module>"):
            yield path.name, fn, key, line


def test_engine_sets_only_runtime_confs(spark):
    sites = {}
    for name, _, key, line in _conf_sets():
        assert isinstance(key, ast.Constant), f"{name}:{line}: conf key is not a literal"
        sites[f"{name}:{line} {key.value}"] = key.value
    assert "spark.sql.session.timeZone" in sites.values()
    static = [site for site, key in sites.items() if not spark.conf.isModifiable(key)]
    assert not static, "static confs set on a running session:\n" + "\n".join(static)


def test_engine_confs_have_one_owner():
    """``io._ensure_engine_confs`` is the one place that pins the UTC
    session zone and the ns-as-long parquet read; every other reader
    calls it. Outside ``session.py`` and ``io.py``, the only conf set
    allowed is ``run_stream_to_table``'s scoped state-partition pin."""
    allowed = {("run_stream_to_table", "spark.sql.shuffle.partitions")}
    stray = [
        f"{name}:{line} {fn} {ast.unparse(key)}"
        for name, fn, key, line in _conf_sets()
        if name not in ("session.py", "io.py")
        and (fn, getattr(key, "value", None)) not in allowed
    ]
    assert not stray, "conf.set outside its owners:\n" + "\n".join(stray)
