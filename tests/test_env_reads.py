"""Library modules take their settings as arguments and module
constants, never from the process environment. ``session.py`` is the
one exception: cores and driver memory are deployment settings."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "rmlint_spark"
ALLOWED = {PKG / "session.py"}
_ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(path: Path) -> list[str]:
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES:
            hits.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in _ENV_NAMES for a in node.names):
                hits.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    return hits


def test_no_environment_reads_outside_session():
    hits = [h for p in sorted(PKG.rglob("*.py")) if p not in ALLOWED
            for h in _env_reads(p)]
    assert not hits, f"modules read os.environ: {hits}"
    # the exempt module does read the environment, so the walk works
    assert _env_reads(PKG / "session.py")
