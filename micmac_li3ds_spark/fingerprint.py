"""Source fingerprints of registered queries.

A query's fingerprint hashes the code of its function and of every
package function or class it reaches, transitively: through the
names its code (nested code objects included) loads from module globals,
through package modules it reads attributes of, and through closure
cells. Code means the syntax tree of the source with docstrings
removed, so editing a docstring or a comment touches no query. The
query's oracle SQL is hashed too, with the repo root replaced by a
placeholder, so moving the checkout does not change it. Runtime values
of module constants are deliberately left out.

Stdlib only: ``tools/record_attestations.py`` loads this file by path to
fingerprint old trees of the package with the current rules.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import textwrap
import types
from collections.abc import Callable

PACKAGE = "micmac_li3ds_spark"
ROOT_PLACEHOLDER = "<repo>"
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _in_package(obj, package: str) -> bool:
    if not (inspect.isfunction(obj) or inspect.isclass(obj)):
        return False
    mod = getattr(obj, "__module__", None)
    return isinstance(mod, str) and mod.split(".")[0] == package


def _code_names(code: types.CodeType) -> set[str]:
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _code_names(c)
    return names


def _functions_of(cls: type):
    for v in vars(cls).values():
        if isinstance(v, (staticmethod, classmethod)):
            v = v.__func__
        if isinstance(v, property):
            yield from (f for f in (v.fget, v.fset, v.fdel) if f is not None)
        elif inspect.isfunction(v):
            yield v


def _referenced(fn, package: str) -> list:
    """Objects the code of ``fn`` can load by name or from a closure."""
    names = _code_names(fn.__code__)
    g = fn.__globals__
    out = []
    for n in names:
        if n not in g:
            continue
        v = g[n]
        if not inspect.ismodule(v):
            out.append(v)
        elif v.__name__.split(".")[0] == package:
            # ``mod.helper``: both names sit in co_names
            out.extend(getattr(v, m) for m in names if hasattr(v, m))
    for cell in fn.__closure__ or ():
        try:
            out.append(cell.cell_contents)
        except ValueError:  # empty cell
            pass
    return out


def _edges(obj, package: str) -> list:
    """Package functions and classes directly reachable from ``obj``."""
    if inspect.isclass(obj):
        refs = list(obj.__bases__)
        for f in _functions_of(obj):
            refs.extend(_referenced(f, package))
    else:
        refs = _referenced(obj, package)
    out = []
    for v in refs:
        try:
            v = inspect.unwrap(v)
        except ValueError:  # __wrapped__ cycle
            continue
        if v is not obj and _in_package(v, package):
            out.append(v)
    return out


def _key(obj) -> str:
    return f"{obj.__module__}:{obj.__qualname__}"


def _code_text(src: str) -> str:
    """``ast.dump`` of ``src`` without docstrings: comment, docstring and
    layout edits leave it unchanged. Source that does not parse on its
    own (a lambda cut out of a larger expression) is returned as is."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return src
    for node in ast.walk(tree):
        if isinstance(node, _DOC_OWNERS) and ast.get_docstring(node, False) is not None:
            node.body = node.body[1:]
    return ast.dump(tree)


def _source_digest(obj) -> str:
    try:
        src = _code_text(inspect.getsource(obj))
    except (OSError, TypeError):  # no source file (exec-generated code)
        src = ""
    return hashlib.sha256(src.encode()).hexdigest()


def fingerprints(
    queries: dict[str, tuple[Callable, str | None]],
    root: str,
    package: str = PACKAGE,
) -> dict[str, str]:
    """Hex digest per query name of everything its function reaches in
    ``package`` plus its oracle SQL with ``root`` normalised to a
    placeholder. ``queries`` maps a name to ``(fn, oracle)``."""
    edges: dict = {}  # object -> reachable package objects
    digests: dict = {}  # object -> (key, source digest)
    out = {}
    for name, (fn, oracle) in queries.items():
        reached = set()
        stack = [inspect.unwrap(fn)]
        while stack:
            obj = stack.pop()
            if obj in reached:
                continue
            reached.add(obj)
            if obj not in edges:
                edges[obj] = _edges(obj, package)
                digests[obj] = (_key(obj), _source_digest(obj))
            stack.extend(edges[obj])
        h = hashlib.sha256()
        for key, digest in sorted(digests[o] for o in reached):
            h.update(f"{key}\0{digest}\n".encode())
        h.update((oracle or "").replace(root, ROOT_PLACEHOLDER).encode())
        out[name] = h.hexdigest()[:16]
    return out
