"""Count the project's non-test lines of code.

Prints, per file and in total, the physical lines (what ``wc -l``
counts) and the code lines: physical lines that hold a token other than
a comment, excluding blank lines and module, class and function
docstrings.

Usage: python tools/loc.py [file ...]

With no file, counts the non-test set that CHANGES.md tracks:
palladian_spark/*.py palladian_spark/*/*.py __spark_entry__.py bench.py
tools/*.py jobs/*.py (relative to the repo root).
"""

from __future__ import annotations

import ast
import glob
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SET = ["palladian_spark/*.py", "palladian_spark/*/*.py",
               "__spark_entry__.py", "bench.py", "tools/*.py", "jobs/*.py"]
_NOT_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(path: str) -> tuple:
    """(physical lines, code lines) of one Python file."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    docstrings = _docstring_lines(ast.parse(text))
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type not in _NOT_CODE:
            code.update(ln for ln in range(tok.start[0], tok.end[0] + 1)
                        if ln not in docstrings)
    return text.count("\n"), len(code)


def main(argv: list) -> None:
    paths = argv or sorted(p for pat in DEFAULT_SET
                           for p in glob.glob(os.path.join(ROOT, pat)))
    total_lines = total_code = 0
    for path in paths:
        lines, code = count(path)
        total_lines += lines
        total_code += code
        print(f"{lines:7d} {code:7d}  {os.path.relpath(path, ROOT)}")
    print(f"{total_lines:7d} {total_code:7d}  total "
          f"({len(paths)} files; lines, code lines)")


if __name__ == "__main__":
    main(sys.argv[1:])
