"""Count a Python package's code lines: lines that are not blank, not
comments and not inside docstrings.

    python tools/loc.py [DIR] [--files | --params]

DIR defaults to the engine package next to this script. Prints the
total, then one line per file, largest first, with ``--files``.
``--params`` prints instead the number of defaulted parameters on the
package's public functions (see ``defaulted_params``): the option
count, tracked like the code lines.
"""

from __future__ import annotations

import ast
import collections
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "umn_eda_kafka_stream_processing_spark")


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by module, class and function docstrings."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Lines of ``source`` holding a token other than a comment, outside
    docstrings."""
    skip = docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (
            tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
            tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
        ):
            continue
        lines.update(
            n for n in range(tok.start[0], tok.end[0] + 1) if n not in skip
        )
    return len(lines)


def sources(directory: str) -> dict[str, str]:
    """Source text per ``.py`` file under ``directory`` (relative paths)."""
    out = {}
    for base, _, files in os.walk(directory):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(base, name)
                with open(path, encoding="utf-8") as f:
                    out[os.path.relpath(path, directory)] = f.read()
    return out


def count(directory: str) -> dict[str, int]:
    """Code lines per ``.py`` file under ``directory`` (relative paths)."""
    return {name: code_lines(src) for name, src in sources(directory).items()}


def defaulted_params(directory: str) -> int:
    """Defaulted parameters on the public functions under ``directory``:
    every ``def`` (module level, method or nested) whose name does not
    start with ``_`` and is defined once in the package."""
    defs = collections.defaultdict(list)
    for src in sources(directory).values():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append(node.args)
    return sum(
        len(args[0].defaults) + sum(d is not None for d in args[0].kw_defaults)
        for name, args in defs.items()
        if not name.startswith("_") and len(args) == 1
    )


def main(argv: list[str]) -> None:
    args = [a for a in argv if not a.startswith("--")]
    directory = args[0] if args else PACKAGE
    if "--params" in argv:
        print(defaulted_params(directory))
        return
    per_file = count(directory)
    print(sum(per_file.values()))
    if "--files" in argv:
        for name, n in sorted(per_file.items(), key=lambda kv: -kv[1]):
            print(f"{n:7d} {name}")


if __name__ == "__main__":
    main(sys.argv[1:])
