"""Dead-code guard: every top-level function, class and module-level
constant in `wtq/` must be named somewhere other than the line that
defines it.

The search is a plain word-boundary regex over the source text of the
package, the tests, the oracle, the benchmarks and the driver entry
point, so a use inside an f-string, a string-keyed registry or a
docstring counts as a reference.  Dunder names (module `__getattr__`
and friends, `__all__`) are read by the interpreter and are exempt."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _search_files() -> list[Path]:
    files = [
        p
        for d in ("wtq", "tests", "oracle", "perfbench")
        for p in (ROOT / d).rglob("*.py")
    ]
    files += sorted(ROOT.glob("bench*.py"))
    files.append(ROOT / "__spark_entry__.py")
    return [p for p in files if p.is_file()]


def _top_level_defs() -> list[tuple[str, Path, int]]:
    out = []
    for path in sorted((ROOT / "wtq").rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            else:
                continue
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    out.append((name, path, node.lineno))
    return out


def test_every_top_level_definition_is_referenced():
    sources = {p: p.read_text(encoding="utf-8").splitlines() for p in _search_files()}
    dead = []
    for name, def_path, def_line in _top_level_defs():
        pat = re.compile(rf"\b{re.escape(name)}\b")
        used = any(
            pat.search(line)
            for path, lines in sources.items()
            for i, line in enumerate(lines, start=1)
            if not (path == def_path and i == def_line)
        )
        if not used:
            dead.append(f"{def_path.relative_to(ROOT)}:{def_line} {name}")
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
