"""Every ferrobus_spark module is reached from a production entry point.

Entry points are the driver contract (``__spark_entry__.py``), the
headline bench (``bench.py``), the benchmark harness (``perfbench/``) and
the scripts. Imports are followed transitively through the package,
function-level imports included, by parsing source: no Spark session.
A module that only its own tests import fails this test; wire it into a
query or job, or delete it.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "ferrobus_spark"

# modules that stay without a production caller, each with its reason
ALLOWED = {
    "ferrobus_spark/sources/gtfs_csv.py": "build-from-files entry: GTFS CSV feeds (reference create_transit_model)",
    "ferrobus_spark/sources/osm_pbf.py": "build-from-files entry: OSM PBF street networks (reference create_transit_model)",
}


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _imported_names(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            # ``from pkg import mod`` names a module as well as a symbol
            yield node.module
            yield from (f"{node.module}.{a.name}" for a in node.names)


def _reached() -> set[Path]:
    todo = [
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *(ROOT / "perfbench").glob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
    ]
    seen: set[Path] = set()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        for name in _imported_names(f):
            parts = name.split(".")
            if parts[0] != PKG:
                continue
            # importing a.b.c also runs a/__init__.py and a/b/__init__.py
            for i in range(1, len(parts) + 1):
                m = _module_file(".".join(parts[:i]))
                if m is not None:
                    todo.append(m)
    return seen


def test_every_module_has_a_production_caller():
    reached = _reached()
    unreached = {
        f.relative_to(ROOT).as_posix()
        for f in (ROOT / PKG).rglob("*.py")
        if f not in reached
    }
    assert not unreached - ALLOWED.keys(), sorted(unreached - ALLOWED.keys())
    # an allowance whose module is now reached (or gone) is stale
    assert not ALLOWED.keys() - unreached, sorted(ALLOWED.keys() - unreached)
