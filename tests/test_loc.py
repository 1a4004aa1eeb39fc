"""tools/loc.py: the package code-line counter skips blank lines,
comments and docstrings, and nothing else; the option counter counts
the defaulted parameters of public, uniquely named functions."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
try:
    import loc
finally:
    sys.path.pop(0)

FIXTURE = '''"""Module docstring
over two lines."""

import os  # a trailing comment keeps the line

# a comment line


def f(x):
    """Function docstring."""
    text = """a multi-line string
    that is not a docstring"""
    return x + len(text)


class C:
    """Class docstring
    spanning lines."""

    def g(self):
        return os.sep
'''


def test_counts_code_lines_only():
    # import, def f, text = (2 lines), return, class C, def g, return
    assert loc.code_lines(FIXTURE) == 8


def test_count_walks_a_directory(tmp_path):
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "a.py").write_text(FIXTURE)
    (tmp_path / "pkg" / "b.py").write_text("x = 1\n\n# done\n")
    (tmp_path / "pkg" / "notes.txt").write_text("x = 1\n")
    assert loc.count(str(tmp_path / "pkg")) == {"a.py": 8, "b.py": 1}


def test_defaulted_params_counts_public_unique_defs(tmp_path):
    (tmp_path / "a.py").write_text(
        "def f(x, y=1, *, z=2, w):\n"
        "    def inner(q=0):\n"
        "        return q\n"
        "    return inner()\n"
        "\n"
        "def _private(a=1):\n"
        "    return a\n"
        "\n"
        "def twice(a=1):\n"
        "    return a\n"
        "\n"
        "class C:\n"
        "    def m(self, k=3, *args, **kw):\n"
        "        return k\n"
    )
    (tmp_path / "b.py").write_text("def twice(a=1, b=2):\n    return a + b\n")
    # f: y, z; inner: q; C.m: k. _private is private, twice is not unique
    assert loc.defaulted_params(str(tmp_path)) == 4
