"""tools/loc.py: the package code-line counter skips blank lines,
comments and docstrings, and nothing else."""

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
