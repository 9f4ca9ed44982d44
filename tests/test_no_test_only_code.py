"""No package code that only tests reach.

Every top-level def, class and assignment in the package must be named
somewhere in the non-test code: the package itself, ``jobs/``,
``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. A
use is any identifier token with that name outside the symbol's own
definition. A name nothing ships is dead weight the tests keep alive;
delete it, or move a reference implementation the tests need into
``tests/oracle.py``. Dunder names (``__version__``) are read by Python
and packaging tools, not by identifier, and are not checked.

Every name a package module imports must be used in that module: it
must appear as a ``Name`` node (which includes the base of an
attribute chain such as ``np.zeros``). ``from __future__`` imports are
compiler directives and are exempt.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "data_quality_assessment_spark"
WORD = re.compile(r"[A-Za-z_]\w*")


def _non_test_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    for d in ("jobs", "tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _top_level_names(tree: ast.Module):
    """(name, first line, last line) of each top-level definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                            ast.Name):
            names = [node.target.id]
        else:
            continue
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                yield name, node.lineno, node.end_lineno


def test_every_package_symbol_has_a_non_test_use():
    lines = {f: f.read_text().splitlines() for f in _non_test_files()}
    uses = Counter(w for ls in lines.values() for ln in ls
                   for w in WORD.findall(ln))
    unused = []
    for f in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse("\n".join(lines[f]))
        for name, first, last in _top_level_names(tree):
            own = sum(WORD.findall(ln).count(name)
                      for ln in lines[f][first - 1:last])
            if uses[name] == own:
                unused.append(f"{f.relative_to(ROOT)}:{first} {name}")
    assert not unused, (
        "package symbols reached only by tests (delete them, or move "
        "test-only helpers into tests/):\n  " + "\n  ".join(unused)
    )


def _imported_names(tree: ast.Module):
    """(bound name, line) of each import in the module, at any depth."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.asname or alias.name.split(".")[0], node.lineno
        elif (isinstance(node, ast.ImportFrom)
              and node.module != "__future__"):
            for alias in node.names:
                yield alias.asname or alias.name, node.lineno


def test_every_package_import_is_used():
    unused = []
    for f in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(f.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        unused += [f"{f.relative_to(ROOT)}:{line} {name}"
                   for name, line in _imported_names(tree)
                   if name not in used]
    assert not unused, "unused imports:\n  " + "\n  ".join(unused)
