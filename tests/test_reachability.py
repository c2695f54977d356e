"""Every ``grass_spark`` module is reachable from an entry point, or listed.

Walks the static import graph (``ast``, no Spark session, nothing
imported) from the repo's entry points: the driver contract
(``__spark_entry__.py``), the bench harnesses (``bench.py``,
``bench_extra.py``), the operational jobs (``scripts/*.py``) and the
benchmark (``perfbench/*.py``).  A module that only its own tests
import fails this test unless it is on the allow-list below with the
reason it stays, so test-only code cannot accumulate unnoticed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "grass_spark"

ENTRY_POINTS = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    *sorted((ROOT / "scripts").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]

# Unreached on purpose; each entry says why it stays.
_STREAMING = "SURVEY §2.10 streaming analogue; stream == batch tests pin it"
ALLOWED_UNREACHED = {
    "grass_spark.streaming": _STREAMING,
    "grass_spark.streaming.accdetect": _STREAMING,
    "grass_spark.streaming.accumulate": _STREAMING,
    "grass_spark.streaming.continuous": _STREAMING,
    "grass_spark.streaming.dedup": _STREAMING,
    "grass_spark.streaming.sessionize": _STREAMING,
    "grass_spark.operators.iceberg":
        "documented production mapping of the tier store; needs an "
        "Iceberg runtime jar",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, module: str | None, is_pkg: bool) -> set[str]:
    """Dotted names a file imports, relative imports resolved.

    ``from a.b import c`` yields both ``a.b`` and ``a.b.c``; the caller
    keeps only names that are modules.
    """
    tree = ast.parse(path.read_text(), filename=str(path))
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if module is None:
                    continue
                base = module.split(".")
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (node.level - 1)]
                src = ".".join(base + ([node.module] if node.module else []))
            else:
                src = node.module
            names.add(src)
            names.update(f"{src}.{alias.name}" for alias in node.names)
    return names


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def reached_modules() -> set[str]:
    mods = _package_modules()
    seen: set[str] = set()
    todo: list[str] = []

    def visit(names: set[str]) -> None:
        for name in names:
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            for mod in _with_parents(name):
                if mod in mods and mod not in seen:
                    seen.add(mod)
                    todo.append(mod)

    for entry in ENTRY_POINTS:
        visit(_imported_names(entry, None, False))
    while todo:
        mod = todo.pop()
        path = mods[mod]
        visit(_imported_names(path, mod, path.name == "__init__.py"))
    return seen


def test_only_allow_listed_modules_are_unreached():
    unreached = set(_package_modules()) - reached_modules()
    assert unreached == set(ALLOWED_UNREACHED), (
        f"unreached but not allow-listed: {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allow-listed but reached or gone: {sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )
