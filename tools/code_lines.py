#!/usr/bin/env python
"""Count the package's code lines, per file and in total.

A line counts when it holds part of a Python token other than a
comment; blank lines, comment-only lines and docstring lines do not
count. A docstring is the leading string constant of a module, class
or function. A multi-line string that is not a docstring counts every
line it spans.

Usage: python tools/code_lines.py [package_dir]
Prints ``<lines>  <path>`` per file (largest first), then ``total <N>``.
The default package dir is ``flink_snappydata_spark`` beside this
tool's parent directory.
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
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in one module's source."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def count_package(root: str) -> dict[str, int]:
    """{relative path: code lines} for every ``.py`` file under root."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    out[os.path.relpath(path, root)] = code_lines(f.read())
    return out


def main() -> None:
    root = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "flink_snappydata_spark",
        )
    )
    counts = count_package(root)
    for path, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {path}")
    print(f"total {sum(counts.values())}")


if __name__ == "__main__":
    main()
