"""Every ``grass_spark`` module and def is reachable from an entry point,
or listed.

Walks the static import graph (``ast``, no Spark session, nothing
imported) from the repo's entry points: the driver contract
(``__spark_entry__.py``), the bench harnesses (``bench.py``,
``bench_extra.py``), the operational jobs (``scripts/*.py``) and the
benchmark (``perfbench/*.py``).  A module that only its own tests
import fails this test unless it is on the allow-list below with the
reason it stays, so test-only code cannot accumulate unnoticed.

The same holds one level down, for the top-level defs and methods of
the reached modules (:func:`unreached_defs`).
"""

from __future__ import annotations

import ast
import re
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


# ---------------------------------------------------------------------------
# defs
# ---------------------------------------------------------------------------

# Unreached defs kept on purpose; each entry says why it stays.
_PARITY_VERB = "SURVEY §2.1 parity verb"
_GRAN_REFERENCE = (
    "pure-Python reference the Spark granularity inference is compared "
    "against (tests/test_granularity.py)"
)
ALLOWED_UNREACHED_DEFS = {
    "grass_spark.catalog.TierCatalog": f"{_PARITY_VERB} t.create / t.info",
    "grass_spark.catalog.register_maps": f"{_PARITY_VERB} t.register",
    "grass_spark.catalog.list_maps": f"{_PARITY_VERB} t.rast.list",
    "grass_spark.catalog._delta_day_cols": "list_maps method=delta/deltagaps",
    "grass_spark.catalog.dataset_info": f"{_PARITY_VERB} t.info",
    "grass_spark.catalog.export_dataset": f"{_PARITY_VERB} t.rast.export",
    "grass_spark.catalog.import_dataset": f"{_PARITY_VERB} t.rast.import",
    "grass_spark.operators.timeshift.list_deltas":
        f"{_PARITY_VERB} t.rast.list method=delta/deltagaps",
    "grass_spark.functions.granularity.compute_datetime_delta": _GRAN_REFERENCE,
    "grass_spark.functions.granularity.infer_granularity_absolute": _GRAN_REFERENCE,
    "grass_spark.functions.granularity.infer_granularity_relative": _GRAN_REFERENCE,
    "grass_spark.functions.granularity._is_after": _GRAN_REFERENCE,
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_IDENT = re.compile(r"[A-Za-z_]\w*\Z")
# decorators that only wrap a method; any other decorator may register
# its def somewhere (a UDF, a dataclass row), so the def is a root
_PLAIN_DECORATORS = {"staticmethod", "classmethod", "property", "setter"}


def _is_docstring(stmt: ast.stmt) -> bool:
    return (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            and isinstance(stmt.value.value, str))


def _without_docstring(body: list[ast.stmt]) -> list[ast.stmt]:
    return body[1:] if body and _is_docstring(body[0]) else body


def _names(nodes: list[ast.AST]) -> set[str]:
    """Names ``nodes`` use: ``Name``/``Attribute`` identifiers, import
    aliases and identifier-like string constants (``getattr`` targets,
    registry keys).  Docstrings are stripped, so prose is not a use."""
    out: set[str] = set()
    todo = list(nodes)
    while todo:
        node = todo.pop()
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
            if node.asname:
                out.add(node.asname)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and _IDENT.match(node.value)):
            out.add(node.value)
        doc = None
        if isinstance(node, (*_FUNCS, ast.ClassDef, ast.Module)) and node.body:
            doc = node.body[0] if _is_docstring(node.body[0]) else None
        todo.extend(n for n in ast.iter_child_nodes(node) if n is not doc)
    return out


def _is_root(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        target = dec.func if isinstance(dec, ast.Call) else dec
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", "")
        if name not in _PLAIN_DECORATORS:
            return True
    return False


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def unreached_defs(
    modules: dict[str, Path], entry_points: list[Path], kept_modules: set[str],
) -> set[str]:
    """Top-level defs and methods in ``modules`` that no entry point
    reaches, as ``module.name`` / ``module.Class.name``.

    Roots: every name in the entry points and in ``kept_modules`` (kept
    on purpose, so what they use stays too), the module-level statements
    of the other modules, and their decorated defs.  Edges: the names in
    a reached def's body (:func:`_names`).  A def is reached once its
    name is; a method once its class is and its name is (dunders come
    with the class).  Matching by name over-approximates, so a def is
    never flagged while anything live still names it.
    """
    names: set[str] = set()
    defs: dict[str, tuple[str, str | None, list[ast.AST], bool]] = {}
    for path in entry_points:
        names |= _names([ast.parse(path.read_text())])
    for mod, path in modules.items():
        tree = ast.parse(path.read_text(), filename=str(path))
        if mod in kept_modules:
            names |= _names([tree])
            continue
        for node in _without_docstring(tree.body):
            if not isinstance(node, (*_FUNCS, ast.ClassDef)):
                names |= _names([node])
                continue
            key = f"{mod}.{node.name}"
            if isinstance(node, ast.ClassDef):
                body = [n for n in node.body if not isinstance(n, _FUNCS)]
                defs[key] = (node.name, None,
                             [*body, *node.bases, *node.keywords, *node.decorator_list],
                             _is_root(node))
                for meth in node.body:
                    if isinstance(meth, _FUNCS):
                        defs[f"{key}.{meth.name}"] = (
                            meth.name, key, [meth],
                            _is_root(meth) or _is_dunder(meth.name))
            else:
                defs[key] = (node.name, None, [node], _is_root(node))

    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (name, owner, body, root) in defs.items():
            if key in reached or (owner is not None and owner not in reached):
                continue
            if root or name in names:
                reached.add(key)
                names |= _names(body)
                grew = True
    return {
        key for key, (_, owner, _, _) in defs.items()
        if key not in reached and (owner is None or owner in reached)
    }


def test_only_allow_listed_defs_are_unreached():
    unreached = unreached_defs(
        _package_modules(), ENTRY_POINTS, set(ALLOWED_UNREACHED),
    )
    assert unreached == set(ALLOWED_UNREACHED_DEFS), (
        f"unreached but not allow-listed: "
        f"{sorted(unreached - set(ALLOWED_UNREACHED_DEFS))}; "
        f"allow-listed but reached or gone: "
        f"{sorted(set(ALLOWED_UNREACHED_DEFS) - unreached)}"
    )


def test_def_walker_flags_only_test_only_defs(tmp_path):
    """A def only a test calls is flagged; one an entry point reaches
    through another def is not."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        '''"""Docs may name test_only without reaching it."""


def api(x):
    return helper(x)


def helper(x):
    return x + 1


def test_only(x):
    return x - 1
'''
    )
    entry = tmp_path / "entry.py"
    entry.write_text("from pkg.mod import api\nprint(api(1))\n")
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_mod.py").write_text(
        "from pkg.mod import test_only\n\n"
        "def test_it():\n    assert test_only(1) == 0\n"
    )
    got = unreached_defs({"pkg.mod": pkg / "mod.py"}, [entry], set())
    assert got == {"pkg.mod.test_only"}
