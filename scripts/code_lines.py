#!/usr/bin/env python
"""Count the code lines of the Python files under a directory.

A code line carries at least one token that is not a comment, and is not
part of a module, class or function docstring; blank lines do not count.

Usage: python scripts/code_lines.py [dir]   (default: bigdatacw1_spark)
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}
_DOCUMENTED = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    docstrings: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOCUMENTED) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            docstrings.update(range(doc.lineno, doc.end_lineno + 1))
    lines = {
        line
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type not in _LAYOUT
        for line in range(tok.start[0], tok.end[0] + 1)
    }
    return len(lines - docstrings)


if __name__ == "__main__":
    root = Path(sys.argv[1] if len(sys.argv) > 1 else "bigdatacw1_spark")
    print(sum(code_lines(p.read_text()) for p in sorted(root.rglob("*.py"))))
