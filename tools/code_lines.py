"""Count code lines in Python files.

A code line is a line that is not blank, not a `#` comment and not
inside a docstring (the string that opens a module, class or function
body). Prints one `<count> <path>` line per file, then the total:

    python3 tools/code_lines.py goflow2clickhouse_spark/plans/storage.py

With no arguments it counts every `goflow2clickhouse_spark/**/*.py`.
"""

from __future__ import annotations

import ast
import glob
import os
import sys


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by every docstring in `tree`."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    skip = docstring_lines(ast.parse(source))
    return sum(
        1
        for no, line in enumerate(source.splitlines(), start=1)
        if no not in skip
        and line.strip()
        and not line.strip().startswith("#")
    )


def main(paths: list[str]) -> None:
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n} {path}")
    print(f"{total} total")


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main(sys.argv[1:] or sorted(
        os.path.relpath(p) for p in glob.glob(
            os.path.join(root, "goflow2clickhouse_spark", "**", "*.py"),
            recursive=True,
        )
    ))
