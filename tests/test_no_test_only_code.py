"""No package code that only tests reach.

Every top-level def, class and assignment in the package (each name of
a tuple target such as ``_A, _B = ...`` counts on its own), and every
method of a package class, must be used somewhere in the non-test code:
the package itself, ``jobs/``, ``tools/``, ``perfbench/``, ``bench.py``
or ``__spark_entry__.py``. A use is a ``tokenize`` NAME token with that
name outside the symbol's own definition, so a mention in a docstring,
comment or string literal does not count (before Python 3.12 an
f-string is one STRING token, so a name used only inside one does not
count either). A name nothing ships is dead weight the tests keep
alive; delete it, or move a reference implementation the tests need
into ``tests/``. Dunder names (``__version__``,
``__init__``) are read by Python and packaging tools, not by
identifier, and are not checked.

Every name a Python module of the repo imports must be used in that
module: it must appear as a ``Name`` node (which includes the base of
an attribute chain such as ``np.zeros``). ``from __future__`` imports
are compiler directives and are exempt, and so is an import marked
``# noqa: F401`` on its line.
"""

from __future__ import annotations

import ast
import io
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "data_quality_assessment_spark"


def _py_files(*dirs: str) -> list[Path]:
    return [f for d in dirs for f in sorted((ROOT / d).rglob("*.py"))]


def _non_test_files() -> list[Path]:
    return (_py_files("data_quality_assessment_spark", "jobs", "tools",
                      "perfbench")
            + [ROOT / "bench.py", ROOT / "__spark_entry__.py"])


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _code_names(src: str) -> list[tuple[str, int]]:
    """(identifier, line) of every NAME token."""
    return [
        (tok.string, tok.start[0])
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.NAME
    ]


def _target_names(target: ast.expr):
    if isinstance(target, ast.Name):
        yield target.id
    elif isinstance(target, (ast.Tuple, ast.List)):
        for elt in target.elts:
            yield from _target_names(elt)


def _definitions(tree: ast.Module):
    """(label, name, first line, last line) of each top-level
    definition and of each method of a top-level class."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [n for t in node.targets for n in _target_names(t)]
        elif isinstance(node, ast.AnnAssign):
            names = list(_target_names(node.target))
        else:
            continue
        for name in names:
            if not _dunder(name):
                yield name, name, node.lineno, node.end_lineno
        if isinstance(node, ast.ClassDef):
            for m in node.body:
                if (isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                        and not _dunder(m.name)):
                    yield (f"{node.name}.{m.name}", m.name, m.lineno,
                           m.end_lineno)


def test_every_package_symbol_has_a_non_test_use():
    names = {f: _code_names(f.read_text()) for f in _non_test_files()}
    uses = Counter(n for ns in names.values() for n, _ in ns)
    unused = []
    for f in sorted(PACKAGE.rglob("*.py")):
        for label, name, first, last in _definitions(
                ast.parse(f.read_text())):
            own = sum(1 for n, line in names[f]
                      if n == name and first <= line <= last)
            if uses[name] == own:
                unused.append(f"{f.relative_to(ROOT)}:{first} {label}")
    assert not unused, (
        "package symbols no shipped code uses (delete them, or move "
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
    for f in _non_test_files() + _py_files("tests"):
        src = f.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        unused += [f"{f.relative_to(ROOT)}:{line} {name}"
                   for name, line in _imported_names(tree)
                   if name not in used
                   and "# noqa: F401" not in lines[line - 1]]
    assert not unused, "unused imports:\n  " + "\n  ".join(unused)
