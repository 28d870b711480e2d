"""Count the code lines of Python files: blank, comment and docstring lines
excluded.

A line counts when it holds at least one token that is not a comment,
a newline or an indent; the lines of a module, class or function
docstring (ast) never count. A line shared by code and a docstring (a
one-line ``def f(): "doc"``) counts.

Usage:  python scripts/code_lines.py upton_spark/crawler.py [more.py ...]
"""

from __future__ import annotations

import ast
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        source = f.read()
    with open(path, "rb") as f:
        tokens = list(tokenize.tokenize(f.readline))
    docs = _docstring_lines(ast.parse(source, path))
    code: set[int] = set()
    for tok in tokens:
        if tok.type in _LAYOUT:
            continue
        rows = range(tok.start[0], tok.end[0] + 1)
        if tok.type == tokenize.STRING and all(r in docs for r in rows):
            continue
        code.update(rows)
    return len(code)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    total = 0
    for path in paths:
        n = code_lines(path)
        total += n
        print(f"{n:7d} {path}")
    if len(paths) > 1:
        print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
