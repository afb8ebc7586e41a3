"""Dead-code guard: the package modules that the dataflow never imports.

The dataflow is what ``job.py``, ``geobench/*.py`` and ``tools/*.py``
reach through static imports (module level and inside functions alike).
Every other ``geoparser_spark`` module is reached only from tests; this
test pins that set, so deleting one of them shrinks the list below and
adding new unreached code fails here.  No Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "geoparser_spark"

OUTSIDE_DATAFLOW = {
    "geoparser_spark.operators.bmp_codec",
    "geoparser_spark.operators.bpe",
    "geoparser_spark.operators.chunking",
    "geoparser_spark.operators.curation",
    "geoparser_spark.operators.dedup",
    "geoparser_spark.operators.png_codec",
    "geoparser_spark.operators.profile",
    "geoparser_spark.operators.sampling",
    "geoparser_spark.operators.similarity",
    "geoparser_spark.operators.text_quality",
    "geoparser_spark.operators.text_stats",
    "geoparser_spark.operators.urls",
    "geoparser_spark.plans.bucketing",
    "geoparser_spark.plans.filesizing",
    "geoparser_spark.plans.snapshots",
    "geoparser_spark.sources.warc",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules a file imports, with the packages that hold them."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            # ``from pkg import mod`` names a submodule, not only an attribute
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            found.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return found & modules.keys()


def dataflow_closure() -> set[str]:
    modules = _package_modules()
    roots = [ROOT / "job.py", *sorted((ROOT / "geobench").glob("*.py")),
             *sorted((ROOT / "tools").glob("*.py"))]
    todo = set().union(*(_imported(p, modules) for p in roots))
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo |= _imported(modules[mod], modules) - seen
    return seen


def test_modules_outside_the_dataflow_are_the_listed_ones():
    closure = dataflow_closure()
    # geobench reaches serve (the map reads) only from inside functions
    assert "geoparser_spark.operators.serve" in closure
    outside = set(_package_modules()) - closure
    assert outside == OUTSIDE_DATAFLOW, (
        f"newly unreached: {sorted(outside - OUTSIDE_DATAFLOW)}; "
        f"now reached or deleted: {sorted(OUTSIDE_DATAFLOW - outside)}")
