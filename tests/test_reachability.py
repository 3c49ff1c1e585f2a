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

The same rule holds for parameters: every defaulted parameter of a
reached function is passed by some production call to a function of
that name (a ``Name`` or ``Attribute`` callee; positional arguments map
onto the parameter names, ``self``/``cls`` skipped for methods, a class
call onto its ``__init__``).  An option every production caller leaves
at one value is that value.  Again conservative: a call with ``*args``
or ``**kw``, a function that production code also names as a value (a
callback, a UDF), a name defined twice and dunder methods other than
``__init__`` count as passing every parameter.
"""

from __future__ import annotations

import ast
import glob
import os
import re
from collections import Counter
from functools import lru_cache

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

# Defaulted parameters kept without a production caller, keyed
# ``"function.param"``, each for a stated reason.
PARAM_ALLOWLIST = {
    # the reference's job signature, sortFile(fileName, chunkSize,
    # mergeJobs) (Server.thrift:4): a reference user switches 1:1
    "sort_file.chunk_size": "reference signature",
    "sort_file.merge_jobs": "reference signature",
    # tests/test_streaming.py runs three real micro-batches with it
    "stream_events.max_files_per_trigger": "multi-batch sessionizer test",
    # the sessionizer's ordering-contract observer (ROADMAP aim 3)
    "sessionize_stream.late_counter": "ordering-contract observer",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)


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


@lru_cache(maxsize=1)
def _walk():
    """The package's top-level definitions ``(file, node, docstrings)``,
    the indices of those the walk reaches, and the production roots
    outside them (root statements and root files)."""
    defs = []
    roots = []
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
                roots.append(stmt)
                mentioned |= _mentions(stmt, docs)
    for path in _root_files():
        tree = _parse(path)
        roots.append(tree)
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
    return defs, reached, roots


def unreached_definitions() -> list[tuple[str, str, int]]:
    """``(relative file, name, lines)`` of every top-level package
    definition the walk does not reach."""
    defs, reached, _ = _walk()
    return [
        (os.path.relpath(path, _REPO), node.name,
         node.end_lineno - node.lineno + 1)
        for i, (path, node, _) in enumerate(defs) if i not in reached
    ]


def _functions(node, owner=None):
    """``(call name, function, bound)`` for every function inside
    ``node``; a method's call name is its own, an ``__init__``'s is its
    class's, and ``bound`` says a method's first parameter is not
    passed positionally."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, _FUNCS):
            decos = {getattr(d, "id", None) for d in child.decorator_list}
            bound = owner is not None and "staticmethod" not in decos
            name = (owner.name if owner is not None
                    and child.name == "__init__" else child.name)
            yield name, child, bound
            yield from _functions(child)
        elif isinstance(child, ast.ClassDef):
            yield from _functions(child, child)
        else:
            yield from _functions(child, owner)


def _defaulted(fn) -> list[str]:
    args = fn.args
    pos = [a.arg for a in args.posonlyargs + args.args]
    names = pos[len(pos) - len(args.defaults):] if args.defaults else []
    return names + [a.arg for a, d in zip(args.kwonlyargs, args.kw_defaults)
                    if d is not None]


def unpassed_parameters() -> list[tuple[str, str, str]]:
    """``(relative file, function, parameter)`` of every defaulted
    parameter of a reached function that no production call passes."""
    defs, reached, roots = _walk()
    calls: dict[str, list[ast.Call]] = {}
    values: set[str] = set()
    for root in roots + [defs[i][1] for i in reached]:
        callees = set()
        for node in ast.walk(root):
            if isinstance(node, ast.Call):
                callees.add(id(node.func))
                name = getattr(node.func, "id", getattr(node.func, "attr", None))
                calls.setdefault(name, []).append(node)
        values |= {
            node.id if isinstance(node, ast.Name) else node.attr
            for node in ast.walk(root)
            if isinstance(node, (ast.Name, ast.Attribute))
            and id(node) not in callees
        }
    functions = [(path, i in reached, *f)
                 for i, (path, node, _) in enumerate(defs)
                 for f in _functions(ast.Module(body=[node]))]
    defined = Counter(name for _, _, name, *_ in functions)

    unpassed = []
    for path, is_reached, name, fn, bound in functions:
        if (not is_reached or defined[name] > 1 or name in values
                or (name.startswith("__") and name.endswith("__"))):
            continue
        defaulted = _defaulted(fn)
        pos = [a.arg for a in fn.args.posonlyargs + fn.args.args][bound:]
        passed: set[str] = set()
        for call in calls.get(name, []):
            if (any(isinstance(a, ast.Starred) for a in call.args)
                    or any(k.arg is None for k in call.keywords)):
                passed = set(defaulted)
                break
            passed |= set(pos[:len(call.args)])
            passed |= {k.arg for k in call.keywords}
        unpassed += [
            (os.path.relpath(path, _REPO), name, p) for p in defaulted
            if p not in passed and f"{name}.{p}" not in PARAM_ALLOWLIST
        ]
    return unpassed


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


def test_every_defaulted_parameter_has_a_production_caller():
    unpassed = unpassed_parameters()
    assert not unpassed, (
        f"{len(unpassed)} defaulted parameters are never passed by a "
        "production call; use the default in the body, or give the "
        "parameter a PARAM_ALLOWLIST entry with a reason:\n"
        + "\n".join(f"  {f}: {fn}({p}=)" for f, fn, p in unpassed)
    )


def test_param_allowlist_names_defaulted_parameters():
    defaulted = set()
    for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True):
        defaulted |= {f"{name}.{p}"
                      for name, fn, _ in _functions(_parse(path))
                      for p in _defaulted(fn)}
    assert set(PARAM_ALLOWLIST) <= defaulted, set(PARAM_ALLOWLIST) - defaulted
