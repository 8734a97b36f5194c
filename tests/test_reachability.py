"""Every module under ``go_cdc_spark/`` must be reachable from an entry
point by a static import walk — a module that only tests import is a
second implementation nobody runs. No Spark: the walk parses source
with ``ast`` and follows every ``import`` / ``from … import`` it finds,
including the lazy ones inside function bodies."""

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
