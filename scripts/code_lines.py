"""Count each Python module's code lines: lines that hold a token
other than a comment, and that lie outside every docstring (the
leading string of a module, class or function body). Blank lines,
comment-only lines and docstring lines do not count; a line inside a
multi-line string that is not a docstring does.

Usage:
    python scripts/code_lines.py [PATH ...]
    # a directory counts every *.py under it; default: the package
    python scripts/code_lines.py mcp_iceberg_duckdb_spark/sources/iceberg_fs.py

Prints one "<code lines>  <path>" line per module, then the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def docstring_lines(tree: ast.AST) -> set:
    """Line numbers of every docstring in ``tree``."""
    out = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            out.update(range(first.lineno, first.end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """The code-line count of one module's source text."""
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstring_lines(ast.parse(source)))


def main(argv: list) -> int:
    roots = [Path(p) for p in argv] or [
        Path(__file__).resolve().parents[1] / "mcp_iceberg_duckdb_spark"
    ]
    total = 0
    for root in roots:
        for path in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
            n = code_lines(path.read_text())
            total += n
            print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
