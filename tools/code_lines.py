"""Count code lines: a line counts when it holds a token that is not a
comment, a newline, an indent/dedent or part of a docstring statement
(an expression statement that is a bare string literal). A token that
spans lines (a multi-line string) counts every line it covers.

Run: python tools/code_lines.py [path ...]
Prints each file's count and the total; the default path is the
``garden_net_backend_spark`` package.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def count_code_lines(source: str) -> int:
    """The number of code lines in ``source``, by the module docstring's rule."""
    doc = set()
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            doc.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def _python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def main(argv: list[str]) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(root, "garden_net_backend_spark")]
    total = 0
    for path in paths:
        for f in _python_files(path):
            with open(f, encoding="utf-8") as fh:
                n = count_code_lines(fh.read())
            total += n
            print(f"{n:6d}  {os.path.relpath(f)}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
