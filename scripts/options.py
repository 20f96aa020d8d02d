"""Census of defaulted parameters: which options does some caller set?

A defaulted parameter of a function in the engine package or ``jobs``
counts as set when some call of a function by that name, anywhere in the
searched trees, passes it: by keyword, or by position (a method's
``self``/``cls`` is skipped when it is called as ``obj.name(...)``). A
call that spreads ``*args`` sets every positional parameter from there
on, and a call that spreads ``**kwargs`` sets every parameter. Calls are
matched by name only, so a name shared by two functions sets both.

Run:  python scripts/options.py [-v]
Prints one ``<defaulted> <never set> <module>`` row per module, then the
totals; ``-v`` also lists every never-set parameter as
``<module>:<line> <function>.<param>``.
"""
import argparse
import ast
import os
import sys

DEFINED_IN = ["bioanalyzer_backend_spark", "jobs"]
CALLED_FROM = DEFINED_IN + ["perfbench", "scripts", "tests", "bench.py",
                            "__spark_entry__.py"]

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import python_files  # noqa: E402


def _parse(path: str) -> ast.Module:
    with open(path, "rb") as f:
        return ast.parse(f.read(), path)


def _is_method(fn: ast.FunctionDef, parent: ast.AST) -> bool:
    return isinstance(parent, ast.ClassDef) and not any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list)


def defaulted(path: str) -> list[tuple[str, int, str, int | None]]:
    """(function, line, param, positional index or None) per default."""
    out = []
    tree = _parse(path)
    for parent in ast.walk(tree):
        for fn in ast.iter_child_nodes(parent):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            skip = 1 if _is_method(fn, parent) and pos else 0
            for i, arg in enumerate(pos[len(pos) - len(a.defaults):],
                                    len(pos) - len(a.defaults)):
                out.append((fn.name, fn.lineno, arg.arg, i - skip))
            out += [(fn.name, fn.lineno, arg.arg, None)
                    for arg, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None]
    return out


def setters(paths: list[str]) -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = {}
    for path in python_files(paths):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else \
                    f.attr if isinstance(f, ast.Attribute) else None
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def is_set(param: str, index: int | None, calls: list[ast.Call]) -> bool:
    for c in calls:
        if any(k.arg in (param, None) for k in c.keywords):
            return True
        if index is None:
            continue
        for i, a in enumerate(c.args):
            if isinstance(a, ast.Starred) and i <= index:
                return True
        if index < len(c.args):
            return True
    return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="list every never-set parameter")
    args = ap.parse_args(argv)
    calls = setters(CALLED_FROM)
    total = unset_total = 0
    for path in python_files(DEFINED_IN):
        params = defaulted(path)
        unset = [(fn, line, p) for fn, line, p, i in params
                 if not is_set(p, i, calls.get(fn, []))]
        if not params:
            continue
        total += len(params)
        unset_total += len(unset)
        print(f"{len(params):4d} {len(unset):4d} {path}")
        if args.verbose:
            for fn, line, p in unset:
                print(f"          {path}:{line} {fn}.{p}")
    print(f"{total:4d} {unset_total:4d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
