"""The kept benchmark scripts still import what they use from the package.

BENCH/*.py, bench.py and bench_extra.py are run by hand, not by this suite,
so removing a package function they use would only show when someone next
runs them. Each script is parsed with `ast` (nothing in it executes) and
every `from warc_metadata_sidecar_spark... import name` must name an existing
module or attribute; attributes read off an imported package module
(`dq.register_views`) must exist too.
"""

from __future__ import annotations

import ast
import importlib
import pathlib
from types import ModuleType

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "warc_metadata_sidecar_spark"
SCRIPTS = sorted([*ROOT.glob("BENCH/*.py"), ROOT / "bench.py", ROOT / "bench_extra.py"])


def _in_pkg(module: str | None) -> bool:
    return module is not None and (module == PKG or module.startswith(PKG + "."))


def _unresolved(source: str, filename: str) -> list[str]:
    """`file:line name` for every package import or module attribute in
    `source` that does not resolve."""
    tree = ast.parse(source, filename=filename)
    modules: dict[str, ModuleType] = {}  # local name -> imported package module
    missing: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _in_pkg(node.module):
            parent = importlib.import_module(node.module)
            for alias in node.names:
                obj = getattr(parent, alias.name, None)
                if obj is None:
                    try:
                        obj = importlib.import_module(f"{node.module}.{alias.name}")
                    except ModuleNotFoundError:
                        missing.append(f"{filename}:{node.lineno} {node.module}.{alias.name}")
                        continue
                if isinstance(obj, ModuleType):
                    modules[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if not _in_pkg(alias.name):
                    continue
                try:
                    mod = importlib.import_module(alias.name)
                except ModuleNotFoundError:
                    missing.append(f"{filename}:{node.lineno} {alias.name}")
                    continue
                if alias.asname:
                    modules[alias.asname] = mod
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            mod = modules[node.value.id].__name__
            missing.append(f"{filename}:{node.lineno} {mod}.{node.attr}")
    return missing


def test_checker_reports_removed_names():
    source = (
        "from warc_metadata_sidecar_spark.frontier.crawl import run_crawl, gone_fn\n"
        "from warc_metadata_sidecar_spark import driver_queries as dq, no_such_mod\n"
        "import warc_metadata_sidecar_spark.no_such_pkg\n"
        "dq.register_views\n"
        "dq.no_such_attr\n"
    )
    assert _unresolved(source, "probe.py") == [
        "probe.py:1 warc_metadata_sidecar_spark.frontier.crawl.gone_fn",
        "probe.py:2 warc_metadata_sidecar_spark.no_such_mod",
        "probe.py:3 warc_metadata_sidecar_spark.no_such_pkg",
        "probe.py:5 warc_metadata_sidecar_spark.driver_queries.no_such_attr",
    ]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_bench_script_package_imports_resolve(path):
    assert _unresolved(path.read_text(), str(path.relative_to(ROOT))) == []
