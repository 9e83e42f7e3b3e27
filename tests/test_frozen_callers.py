"""Every ``osm2shp_spark`` name that the benchmark and experiment
scripts import must still resolve.

Those scripts are not exercised by the rest of the suite, so deleting
or renaming an operator they import would otherwise surface only when
the benchmark runs. The imports are read with ``ast`` (module-level and
function-level alike) and resolved with ``importlib``; no Spark session
is started.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
CALLERS = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py"]
    + list((ROOT / "perfbench").glob("*.py"))
    + list((ROOT / "bench_experiments").glob("*.py"))
)


def _package_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for every ``from osm2shp_spark… import name`` and
    (module, None) for every ``import osm2shp_spark…`` in the file."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod == "osm2shp_spark" or mod.startswith("osm2shp_spark."):
                out += [(mod, alias.name) for alias in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (alias.name, None)
                for alias in node.names
                if alias.name.split(".")[0] == "osm2shp_spark"
            ]
    return out


def _resolves(mod: str, name: str | None) -> bool:
    module = importlib.import_module(mod)
    if name is None or name == "*" or hasattr(module, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{mod}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_callers_import_the_package():
    assert sum(len(_package_imports(p)) for p in CALLERS) > 0


@pytest.mark.parametrize("path", CALLERS, ids=lambda p: str(p.relative_to(ROOT)))
def test_frozen_caller_imports_resolve(path):
    missing = [
        f"{mod}.{name}" if name else mod
        for mod, name in _package_imports(path)
        if not _resolves(mod, name)
    ]
    assert not missing, f"{path.name} imports names that no longer exist: {missing}"
