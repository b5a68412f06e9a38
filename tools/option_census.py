"""Census of the package's defaulted parameters that no caller sets.

An AST scan, no imports of the package and no Spark. Every top-level
function in `stockanalyses_downloader_spark/` is matched by name
against every call in the package, `tests/`, `tools/`, `perfbench/`,
`bench.py` and `__spark_entry__.py`:

- positional arguments set the leading parameters, keyword arguments
  the named ones;
- a function that any call reaches through `*args`/`**kw` is skipped
  (every parameter counts as set);
- an argument that only forwards a defaulted parameter of the calling
  function sets the callee's parameter only if the caller's own
  parameter is set somewhere (solved to a fixed point).

Usage: `python tools/option_census.py` prints the counts and every
unset parameter not on the allow-list.
"""
from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "stockanalyses_downloader_spark"
CALLER_ROOTS = (PACKAGE, "tests", "tools", "perfbench", "bench.py",
                "__spark_entry__.py")

# Kept on purpose with no caller in the repo: the deployment setting
# and the fake-injection points of the REST pipelines.
ALLOWED = {
    ("session.py", "get_session", "master"),
    ("pipelines.py", "run_rest_batch", "fetcher"),
    ("pipelines.py", "run_rest_batch", "client_factory"),
    ("pipelines.py", "run_rest_stream", "fetcher"),
    ("pipelines.py", "run_rest_stream", "client_factory"),
}
# The DuckDB oracle SQL generators are the test references: their
# text is frozen with the oracle hashes.
ALLOWED_DIRS = ("queries",)


def _py_files(root):
    path = os.path.join(REPO, root)
    if path.endswith(".py"):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames
                       if d not in ("__pycache__", "data")]
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _defaulted(fn):
    a = fn.args
    pos = a.posonlyargs + a.args
    names = [p.arg for p in pos]
    out = names[len(names) - len(a.defaults):] if a.defaults else []
    out += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return names, out


def _params(fn):
    a = fn.args
    return {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}


def census():
    """Return `(n_defaulted, unset)`: `unset` is the set of
    `(relpath, function, parameter)` for every defaulted parameter of
    a package top-level function that no caller sets."""
    defs = {}          # name -> [(relpath, positional names, defaulted)]
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, os.path.join(REPO, PACKAGE))
        tree = ast.parse(open(path).read(), path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names, dflt = _defaulted(node)
                defs.setdefault(node.name, []).append((rel, names, dflt))

    splat = set()
    # (callee, param) -> list of evidence: None = set outright,
    # (caller_name, caller_param) = set iff that one is set.
    evidence = {}

    def visit(node, stack, top):
        """Walk ``node``; ``stack`` holds the enclosing function scopes
        and ``top`` names the enclosing package top-level function."""
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda)):
            for child in ast.iter_child_nodes(node):
                visit(child, stack + [_params(node)], top)
            return
        if isinstance(node, ast.Call):
            record(node, stack, top)
        for child in ast.iter_child_nodes(node):
            visit(child, stack, top)

    def source_of(value, stack, top):
        if isinstance(value, ast.Name):
            for i in range(len(stack) - 1, -1, -1):
                if value.id in stack[i]:
                    if i == 0 and top is not None and any(
                            value.id in d for _, _, d in defs[top]):
                        return (top, value.id)
                    return None
        return None

    def record(call, stack, top):
        func, args, kws = call.func, call.args, call.keywords
        name = getattr(func, "id", None) or getattr(func, "attr", None)
        if name == "partial" and args:
            inner = args[0]
            name = getattr(inner, "id", None) or getattr(inner, "attr",
                                                         None)
            args = args[1:]
        if name not in defs:
            return
        if any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in kws):
            splat.add(name)
            return
        for _, names, dflt in defs[name]:
            for i, a in enumerate(args):
                if i < len(names) and names[i] in dflt:
                    evidence.setdefault((name, names[i]), []).append(
                        source_of(a, stack, top))
            for k in kws:
                if k.arg in dflt:
                    evidence.setdefault((name, k.arg), []).append(
                        source_of(k.value, stack, top))

    for root in CALLER_ROOTS:
        for path in _py_files(root):
            tree = ast.parse(open(path).read(), path)
            for node in tree.body:
                top = None
                if root == PACKAGE and isinstance(
                        node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    top = node.name
                visit(node, [], top)

    is_set = {key for key, ev in evidence.items() if None in ev}
    changed = True
    while changed:
        changed = False
        for key, ev in evidence.items():
            if key not in is_set and any(
                    e in is_set or (e and e[0] in splat) for e in ev):
                is_set.add(key)
                changed = True

    n_defaulted, unset = 0, set()
    for name, entries in defs.items():
        for rel, _, dflt in entries:
            n_defaulted += len(dflt)
            if name in splat:
                continue
            for p in dflt:
                if (name, p) not in is_set:
                    unset.add((rel, name, p))
    return n_defaulted, unset


def unallowed(unset):
    return sorted(k for k in unset if k not in ALLOWED
                  and not k[0].startswith(ALLOWED_DIRS))


def main():
    n, unset = census()
    rest = unallowed(unset)
    print(f"defaulted parameters: {n}; never set: {len(unset)}; "
          f"outside the allow-list: {len(rest)}")
    for rel, fn, p in rest:
        print(f"  {rel}:{fn}({p})")
    return 1 if rest else 0


if __name__ == "__main__":
    sys.exit(main())
