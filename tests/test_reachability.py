"""Every module under ``go_cdc_spark/`` must be reachable from an entry
point by a static import walk, and every top-level ``def``/``class`` in
it must be referenced by package code — a module or function that only
tests reach is a second implementation nobody runs. No Spark: both
checks parse source with ``ast``; the walk follows every ``import`` /
``from … import`` it finds, including the lazy ones inside function
bodies."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "go_cdc_spark"
ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = [
    "go_cdc_spark/app.py",
    "go_cdc_spark/__main__.py",
    "go_cdc_spark/plans/queries.py",
    "go_cdc_spark/curate.py",
    "go_cdc_spark/sql.py",
]
# Not yet wired into the engine; ROADMAP direction 4 (a structured log
# of every sync run) wires observe_changes/MetricsTap into
# Engine.incremental_sync.
ALLOWED_UNREACHED = {"go_cdc_spark/streaming/metrics.py"}


def _module_file(dotted: str) -> Path | None:
    base = ROOT.joinpath(*dotted.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _dotted(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path) -> set[str]:
    """Dotted names a module imports, relative imports resolved. For
    ``from X import y`` both ``X`` and ``X.y`` are returned; the caller
    keeps whichever names an existing file."""
    here = _dotted(path).split(".")
    package = here if path.name == "__init__.py" else here[:-1]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return {m for m in out if m == PKG or m.startswith(PKG + ".")}


def _reached() -> set[Path]:
    todo = [ROOT / p for p in ENTRY_POINTS]
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for dotted in _imports(path):
            parts = dotted.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:i]))
                if f is not None and f not in seen:
                    todo.append(f)
    return seen


def test_entry_points_reach_every_module():
    reached = {p.relative_to(ROOT).as_posix() for p in _reached()}
    every = {p.relative_to(ROOT).as_posix() for p in (ROOT / PKG).rglob("*.py")}
    unreached = sorted(every - reached - ALLOWED_UNREACHED)
    assert unreached == [], f"modules no entry point imports: {unreached}"


def test_allowlist_is_not_stale():
    reached = {p.relative_to(ROOT).as_posix() for p in _reached()}
    for path in ALLOWED_UNREACHED:
        assert (ROOT / path).is_file(), f"{path} no longer exists"
        assert path not in reached, f"{path} is reached now; drop it from the allowlist"


# Top-level names no package code references, each with its reason.
ALLOWED_UNREFERENCED = {
    # test fixture builders for change events and positions
    ("go_cdc_spark.sources.changelog", "changelog_df"): "test fixture builder",
    ("go_cdc_spark.sources.changelog", "format_pos"): "test fixture builder",
    # the batch envelope→table MERGE the golden and integration tests
    # check the snapshot/changelog round trip against
    ("go_cdc_spark.operators.cdc", "materialize_changelog"): "batch reference path",
    # the Z-order writer and its file-skipping probe; the layout queries
    # use with_zcell, tests/test_layout_io measures skipping with these
    ("go_cdc_spark.operators.layout", "write_clustered"): "layout measurement",
    ("go_cdc_spark.operators.layout", "run_with_scan_metrics"): "layout measurement",
    # operator-run retention; Engine.safe_purge_pos gives its bound
    ("go_cdc_spark.sources.retention", "purge_changelog"): "operator-run retention",
    # the one-shot call of the SQL entry point
    ("go_cdc_spark.sql", "run_sql"): "public API of sql.py",
    # ROADMAP direction 4 wires these into Engine.incremental_sync
    ("go_cdc_spark.streaming.metrics", "observe_changes"): "not yet wired",
    ("go_cdc_spark.streaming.metrics", "install_tap"): "not yet wired",
}


def _resolve(path: Path, node: ast.ImportFrom) -> str:
    here = _dotted(path).split(".")
    package = here if path.name == "__init__.py" else here[:-1]
    if node.level:
        base = package[: len(package) - (node.level - 1)]
        return ".".join(base + ([node.module] if node.module else []))
    return node.module or ""


def _is_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", [])
    )


def _definitions_and_references():
    """(module, name) of every top-level def/class that is not a
    registered @query, and the set of (module, name) pairs package code
    refers to: a bare name in its own module (outside the definition
    itself), an imported name, or ``module.name`` through a package
    module bound by an import. Strings and docstrings do not count."""
    files = sorted((ROOT / PKG).rglob("*.py"))
    modules = {_dotted(f) for f in files}
    defs: set[tuple[str, str]] = set()
    refs: set[tuple[str, str]] = set()
    for path in files:
        mod = _dotted(path)
        tree = ast.parse(path.read_text(), filename=str(path))
        bound: dict[str, str] = {}  # local name -> package module
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                src = _resolve(path, node)
                for a in node.names:
                    refs.add((src, a.name))
                    if f"{src}.{a.name}" in modules:
                        bound[a.asname or a.name] = f"{src}.{a.name}"
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name in modules:
                        bound[a.asname or a.name] = a.name
        for top in tree.body:
            own = None
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                own = top.name
                if not _is_query(top):
                    defs.add((mod, own))
            for n in ast.walk(top):
                if isinstance(n, ast.Name) and n.id != own:
                    refs.add((mod, n.id))
                elif isinstance(n, ast.Attribute):
                    parts, base = [], n.value
                    while isinstance(base, ast.Attribute):
                        parts.append(base.attr)
                        base = base.value
                    if isinstance(base, ast.Name):
                        head = bound.get(base.id, base.id)
                        target = ".".join([head, *reversed(parts)])
                        if target in modules:
                            refs.add((target, n.attr))
    return defs, refs


def test_every_top_level_name_is_referenced():
    defs, refs = _definitions_and_references()
    unreferenced = sorted(defs - refs - set(ALLOWED_UNREFERENCED))
    assert unreferenced == [], f"top-level names no package code uses: {unreferenced}"


def test_name_allowlist_is_not_stale():
    defs, refs = _definitions_and_references()
    for key in ALLOWED_UNREFERENCED:
        assert key in defs, f"{key} no longer exists"
        assert key not in refs, f"{key} is referenced now; drop it from the allowlist"
