#!/usr/bin/env python
"""Code-line count: the size measure the simplicity changelog reports.

A line counts when some token other than a comment, a newline or an
indent sits on it, and it is not part of a docstring (the leading
string statement of a module, class or function body). Blank lines,
comment-only lines and docstring lines never count; a multi-line
string that is not a docstring counts every line it spans.

Prints the total over every ``*.py`` under ``sressentials_spark/``,
then one count per path given (a file, or a directory summed over its
``*.py`` files); a path that does not exist (``--help`` included)
prints the usage line and exits 2::

    python scripts/code_lines.py
    python scripts/code_lines.py sressentials_spark/operators/maintenance.py
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(__file__)), "sressentials_spark")

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.update(range(first.lineno, first.end_lineno + 1))
    return out


def count_source(src: str) -> int:
    """Code lines of one module's source text."""
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            lines.update(
                ln for ln in range(tok.start[0], tok.end[0] + 1) if ln not in doc
            )
    return len(lines)


def count_path(path: str) -> int:
    """Code lines of one ``.py`` file, or of every ``.py`` file below a
    directory."""
    if os.path.isdir(path):
        return sum(
            count_path(os.path.join(root, name))
            for root, _, names in os.walk(path)
            for name in names
            if name.endswith(".py")
        )
    with open(path, encoding="utf-8") as fh:
        return count_source(fh.read())


def main(argv: list[str]) -> int:
    missing = [p for p in argv if not os.path.exists(p)]
    if missing:
        print("usage: python scripts/code_lines.py [path ...]", file=sys.stderr)
        print(f"no such file or directory: {', '.join(missing)}", file=sys.stderr)
        return 2
    print(f"sressentials_spark/ {count_path(PACKAGE):,}")
    for p in argv:
        print(f"{p} {count_path(p):,}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
