"""Every module under ``rmlint_spark/`` must be reachable from a real
entry point: the driver contract (``__spark_entry__.py``), the bench
harnesses (``bench.py``, ``bench_extra.py``) or the repo benchmark
(``perfbench/*.py``).  A module that only tests import is dead code;
delete it with its tests rather than keep it frozen.

The walk is static (``ast``), follows imports inside functions too,
and needs no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "rmlint_spark"

# Modules kept on purpose although no entry point imports them yet.
ALLOWED_ORPHANS = {
    "rmlint_spark/sources/sinks.py":
        "the survey's output-table contract (SURVEY.md), pinned by tests",
    "rmlint_spark/sources/checkpoint.py":
        "the mid-stage resume model (the replay analog), pinned by tests",
    "rmlint_spark/specs.py":
        "the size-spec parser for the rmlint-style size options",
}


def _entry_points() -> list[Path]:
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
             ROOT / "bench_extra.py"]
    return roots + sorted((ROOT / "perfbench").glob("*.py"))


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file imports anywhere in its body; for
    ``from pkg import x`` both ``pkg`` and ``pkg.x`` (x may be a
    submodule)."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module \
                and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _reached() -> set[Path]:
    """Package files reached from the entry points.  Importing a
    submodule runs every enclosing package ``__init__``, so those are
    reached (and walked) with it."""
    seen: set[Path] = set()
    stack = _entry_points()
    while stack:
        for name in _imported_names(stack.pop()):
            parts = name.split(".")
            if parts[0] != PKG:
                continue
            for k in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:k]))
                if f is not None and f not in seen:
                    seen.add(f)
                    stack.append(f)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = {p.relative_to(ROOT).as_posix() for p in _reached()}
    modules = {p.relative_to(ROOT).as_posix()
               for p in (ROOT / PKG).rglob("*.py")}
    orphans = sorted(modules - reached - set(ALLOWED_ORPHANS))
    assert not orphans, (
        f"modules no entry point imports: {orphans}; delete them "
        "(with their tests) or wire them into an entry point")
    # an allowlisted module that became reachable leaves the list
    assert not (set(ALLOWED_ORPHANS) & reached), \
        sorted(set(ALLOWED_ORPHANS) & reached)
    assert set(ALLOWED_ORPHANS) <= modules
