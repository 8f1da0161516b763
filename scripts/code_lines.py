#!/usr/bin/env python
"""Count the code lines of Python files.

A code line carries at least one token that is not a comment, and is not
part of a module, class or function docstring; blank lines do not count.
A directory counts every ``*.py`` file under it, a file counts itself,
and several paths print one sum. A path that does not exist is an error.

Usage: python scripts/code_lines.py [path ...]   (default: bigdatacw1_spark)
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


def python_files(path: Path) -> list[Path]:
    """The file itself, or every ``*.py`` under a directory."""
    if path.is_file():
        return [path]
    if path.is_dir():
        return sorted(path.rglob("*.py"))
    raise FileNotFoundError(f"no such file or directory: {path}")


if __name__ == "__main__":
    roots = [Path(p) for p in sys.argv[1:]] or [Path("bigdatacw1_spark")]
    try:
        files = [f for root in roots for f in python_files(root)]
    except FileNotFoundError as e:
        sys.exit(f"code_lines.py: {e}")
    print(sum(code_lines(f.read_text()) for f in files))
