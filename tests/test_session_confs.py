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


def test_engine_sets_only_runtime_confs(spark):
    sites = {}
    for path in sorted(_PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and ast.unparse(node.func).endswith(".conf.set"):
                where, key = f"{path.name}:{node.lineno}", node.args[0]
                assert isinstance(key, ast.Constant), f"{where}: conf key is not a literal"
                sites[f"{where} {key.value}"] = key.value
    assert "spark.sql.session.timeZone" in sites.values()
    static = [site for site, key in sites.items() if not spark.conf.isModifiable(key)]
    assert not static, "static confs set on a running session:\n" + "\n".join(static)
