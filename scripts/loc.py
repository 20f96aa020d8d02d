"""Count code lines of Python files: no blank, comment or docstring lines.

A line counts when it holds a token that is not a comment, a newline or
indentation, and is not part of a docstring (the leading string literal
of a module, class or function body). Each physical line a multi-line
statement spans counts once.

Run:  python scripts/loc.py [PATH ...]
Directories are walked for ``*.py``; prints one ``<lines> <file>`` row per
file, then ``<lines> total``. Default paths: the engine package, the job
and ``__spark_entry__.py``.
"""
import argparse
import ast
import io
import os
import sys
import tokenize

DEFAULT_PATHS = ["bioanalyzer_backend_spark", "jobs", "__spark_entry__.py"]
_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) \
                    and isinstance(first.value, ast.Constant) \
                    and isinstance(first.value.value, str):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        source = f.read()
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(source).readline):
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def python_files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                out += [os.path.join(root, f) for f in sorted(files)
                        if f.endswith(".py")]
        else:
            out.append(p)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="*", default=DEFAULT_PATHS)
    args = ap.parse_args(argv)
    total = 0
    for path in python_files(args.paths):
        n = code_lines(path)
        total += n
        print(f"{n:7d} {path}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
