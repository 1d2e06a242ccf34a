"""Count the code lines of a Python package: non-blank lines that are
neither comments nor docstrings.

A line counts when any token other than a comment starts or continues
on it, so a statement with a trailing comment counts once and a
multi-line expression counts every line it spans. Docstrings (the
leading string of a module, class or function) do not count; any
other string literal does.

Usage:
    python tools/code_lines.py                 # charmpandas_spark/
    python tools/code_lines.py PATH [PATH ...] # files or directories

Prints one ``code  raw  path`` row per file, then the totals; ``raw``
is the file's line count as ``wc -l`` reports it.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}


def code_lines(src: str) -> int:
    """Number of code lines in the Python source ``src``."""
    docs = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                docs.update(range(first.lineno, first.end_lineno + 1))
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def _files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, dirs, names in os.walk(p):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for nm in sorted(names):
                if nm.endswith(".py"):
                    yield os.path.join(root, nm)


def main(argv: list[str]) -> int:
    paths = argv or [os.path.join(REPO, "charmpandas_spark")]
    total_code = total_raw = 0
    for f in _files(paths):
        with open(f, encoding="utf-8") as fh:
            src = fh.read()
        code, raw = code_lines(src), src.count("\n")
        total_code += code
        total_raw += raw
        print(f"{code:6d} {raw:6d}  {os.path.relpath(f)}")
    print(f"{total_code:6d} {total_raw:6d}  total (code, raw)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
