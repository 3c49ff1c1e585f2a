"""Design rule: every top-level package definition has a production caller.

A static, name-based walk over the package AST.  It starts from the
production roots and follows every name the reached code mentions:

* the ``@query`` functions (the registry keys);
* module-level statements, except imports and ``__all__`` (a re-export
  does not make a definition used);
* ``MergeSortEngine``, the reference-parity facade;
* ``bench.py``, ``__spark_entry__.py``, ``examples/*.py`` and
  ``perfbench/*.py`` (its tests excluded);
* the short allowlist below.

It is conservative: a definition counts as reached when reached code
names it as a variable, an attribute or an identifier inside a string
literal, wherever the definition lives.  Docstrings mention nothing.
A definition that only tests call fails the test; delete it, or move it
into ``tests/`` when it is a reference the tests compare against.
"""

from __future__ import annotations

import ast
import glob
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "mapreduce_framework_for_mergesort_spark")

# Kept without a production caller, each for a stated reason.
ALLOWLIST = {
    # regenerates the packaged language-profile table (operators/langid.py)
    "write_profiles",
    # the streaming exactly-once restart test drives it (ROADMAP §1)
    "run_to_parquet",
    # the watermarked sessionizer contract for out-of-order sources; it
    # runs the same fold as the key's sessionizer
    "sessionize_stream_watermarked",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                ids.add(id(first.value))
    return ids


def _mentions(root: ast.AST, docstrings: set[int]) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(root):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif (isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings):
            names.update(_IDENT.findall(node.value))
    return names


def _is_query(node) -> bool:
    for deco in getattr(node, "decorator_list", []):
        target = deco.func if isinstance(deco, ast.Call) else deco
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _is_root_statement(stmt) -> bool:
    if isinstance(stmt, (*_DEFS, ast.Import, ast.ImportFrom)):
        return False
    if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
        return False  # module docstring or bare literal
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = (stmt.targets if isinstance(stmt, ast.Assign)
                   else [stmt.target])
        if all(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
            return False
    return True


def _root_files() -> list[str]:
    files = [os.path.join(_REPO, "bench.py"),
             os.path.join(_REPO, "__spark_entry__.py")]
    files += sorted(glob.glob(os.path.join(_REPO, "examples", "*.py")))
    files += sorted(
        p for p in glob.glob(os.path.join(_REPO, "perfbench", "*.py"))
        if not os.path.basename(p).startswith("test_")
    )
    return files


def unreached_definitions() -> list[tuple[str, str, int]]:
    """``(relative file, name, lines)`` of every top-level package
    definition the walk does not reach."""
    defs = []          # (file, node, docstrings)
    mentioned: set[str] = set(ALLOWLIST) | {"MergeSortEngine"}
    for path in sorted(glob.glob(os.path.join(_PKG, "**", "*.py"),
                                 recursive=True)):
        tree = _parse(path)
        docs = _docstrings(tree)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.append((path, stmt, docs))
                if _is_query(stmt):
                    mentioned.add(stmt.name)
            elif _is_root_statement(stmt):
                mentioned |= _mentions(stmt, docs)
    for path in _root_files():
        tree = _parse(path)
        mentioned |= _mentions(tree, _docstrings(tree))

    reached: set[int] = set()
    grew = True
    while grew:
        grew = False
        for i, (_, node, docs) in enumerate(defs):
            if i not in reached and node.name in mentioned:
                reached.add(i)
                mentioned |= _mentions(node, docs)
                grew = True
    return [
        (os.path.relpath(path, _REPO), node.name,
         node.end_lineno - node.lineno + 1)
        for i, (path, node, _) in enumerate(defs) if i not in reached
    ]


def test_every_package_definition_has_a_production_caller():
    unreached = unreached_definitions()
    assert not unreached, (
        f"{len(unreached)} top-level definitions "
        f"({sum(n for *_, n in unreached)} lines) have no production "
        "caller; delete them, or move test references into tests/:\n"
        + "\n".join(f"  {f}: {name} ({n} lines)" for f, name, n in unreached)
    )


def test_allowlist_names_exist():
    names = set()
    for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True):
        names |= {s.name for s in _parse(path).body if isinstance(s, _DEFS)}
    assert ALLOWLIST <= names, ALLOWLIST - names
