"""Count code lines of Python files with ``tokenize``.

A line counts when it holds any token other than a comment, a blank or
continuation newline, an indent/dedent, or a module/class/function
docstring. Multi-line tokens (triple-quoted SQL, for example) count on
every line they span. The second count also drops every line of an
``import`` / ``from ... import`` statement, at any nesting level, so a
change that only moves imports around does not move it.

Usage: python tools/code_lines.py [path ...]
Paths are files or directories (searched recursively for ``*.py``);
the default is the ``apache_iceberg_spark`` package. Prints one row
per file and a total row: ``code  code_without_imports  path``.
"""

from __future__ import annotations

import ast
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def _spans(tree: ast.AST) -> tuple[set[int], set[int]]:
    """Line numbers of docstrings and of import statements."""
    docs: set[int] = set()
    imports: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                docs.update(range(first.lineno, first.end_lineno + 1))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            imports.update(range(node.lineno, node.end_lineno + 1))
    return docs, imports


def count(path: str) -> tuple[int, int]:
    """(code lines, code lines outside import statements) of one file."""
    with open(path, "rb") as f:
        src = f.read()
    docs, imports = _spans(ast.parse(src, path))
    lines: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type not in _NOT_CODE:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    lines -= docs
    return len(lines), len(lines - imports)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                out += [os.path.join(root, n) for n in names if n.endswith(".py")]
        else:
            out.append(p)
    return sorted(out)


def main(argv: list[str]) -> None:
    paths = argv or [os.path.join(REPO, "apache_iceberg_spark")]
    total = total_ni = 0
    for path in _files(paths):
        n, n_ni = count(path)
        total += n
        total_ni += n_ni
        print(f"{n:7d} {n_ni:7d}  {os.path.relpath(path)}")
    print(f"{total:7d} {total_ni:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
