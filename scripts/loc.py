"""Count code lines of Python files.

Usage: python scripts/loc.py [PATH...]

A code line is a physical line that holds at least one token that is
not a comment and does not lie inside a docstring (the first string
statement of a module, class or function).  Blank lines, comment-only
lines and docstring lines are not counted.  Directories are walked for
``*.py`` files.  Prints one line per file and the total.  With no
PATH, counts the non-test tree: ``kgloom/``, ``__spark_entry__.py``,
``bench.py`` and ``scripts/`` of the checkout this script sits in.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

#: the non-test tree, relative to the checkout root
DEFAULT_PATHS = ("kgloom", "__spark_entry__.py", "bench.py", "scripts")

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.update(range(first.lineno, first.end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def _files(paths: list[str]) -> list[str]:
    out = []
    for path in paths:
        if os.path.isdir(path):
            for root, dirs, names in os.walk(path):
                dirs.sort()
                out += [os.path.join(root, n) for n in sorted(names)
                        if n.endswith(".py")]
        else:
            out.append(path)
    return out


def main(paths: list[str]) -> None:
    total = 0
    for path in _files(paths):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main(sys.argv[1:] or list(DEFAULT_PATHS))
