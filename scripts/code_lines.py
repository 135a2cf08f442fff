#!/usr/bin/env python
"""Count Python code lines at a git revision and in the working tree.

A code line is a source line that carries a Python token other than a
comment or a newline and is not part of a module, class or function
docstring. Blank lines, comment-only lines and docstrings do not count;
a statement spread over three lines counts three.

Usage: python scripts/code_lines.py REV PATH [PATH ...]

Prints ``old -> new delta``: the count over every ``*.py`` under PATH at
REV, the count over the same PATHs in the working tree, and the
difference. Run it from the repository root.
"""

from __future__ import annotations

import ast
import io
import pathlib
import subprocess
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def code_lines(src: str) -> int:
    doc = set()
    for n in ast.walk(ast.parse(src)):
        if (
            isinstance(n, _DOC_OWNERS)
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
            and isinstance(n.body[0].value.value, str)
        ):
            doc.update(range(n.body[0].lineno, n.body[0].end_lineno + 1))
    lines = set()
    for t in tokenize.generate_tokens(io.StringIO(src).readline):
        if t.type not in _SKIP:
            lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines - doc)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], capture_output=True, text=True, check=True
    ).stdout


def count_at(rev: str, paths: list[str]) -> int:
    files = _git("ls-tree", "-r", "--name-only", rev, "--", *paths).split()
    return sum(
        code_lines(_git("show", f"{rev}:{f}"))
        for f in files if f.endswith(".py")
    )


def count_tree(paths: list[str]) -> int:
    files = set()
    for p in map(pathlib.Path, paths):
        files.update([p] if p.is_file() else p.rglob("*.py"))
    return sum(
        code_lines(f.read_text()) for f in files if f.suffix == ".py"
    )


def main(argv: list[str]) -> None:
    if len(argv) < 2:
        sys.exit(__doc__)
    rev, paths = argv[0], argv[1:]
    old, new = count_at(rev, paths), count_tree(paths)
    print(old, "->", new, new - old)


if __name__ == "__main__":
    main(sys.argv[1:])
