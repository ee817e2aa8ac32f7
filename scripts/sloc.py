#!/usr/bin/env python
"""Count code lines of Python sources.

A code line is a line that holds at least one token that is neither a
comment nor part of a module, class or function docstring. Blank lines,
comment-only lines and docstring lines do not count; a line of a
multi-line string that is not a docstring does.

Usage: python scripts/sloc.py PATH [PATH ...]
Each PATH is a .py file or a directory (searched recursively). Prints one
"<count> <path>" line per argument, then the total when there are several.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def _docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
    """(line, col) of every module/class/function docstring token."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add((body[0].lineno, body[0].col_offset))
    return out


def count_file(path: str) -> int:
    with open(path, "rb") as fh:
        src = fh.read()
    docs = _docstring_starts(ast.parse(src, filename=path))
    lines: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type in _SKIP:
            continue
        if tok.type == tokenize.STRING and tok.start in docs:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def count_path(path: str) -> int:
    if os.path.isfile(path):
        return count_file(path)
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        total += sum(count_file(os.path.join(root, f)) for f in files if f.endswith(".py"))
    return total


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: python scripts/sloc.py PATH [PATH ...]", file=sys.stderr)
        return 2
    counts = [(count_path(p), p) for p in argv]
    for n, p in counts:
        print(f"{n} {p}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts)} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
