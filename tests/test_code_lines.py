"""The code-line count of ``scripts/code_lines.py``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from code_lines import count_source, main  # noqa: E402

_FIXTURE = '''"""Module docstring,
two lines."""

import os  # a comment


def f(x):
    """Function docstring."""
    # comment-only line
    s = """not a
docstring"""
    return (x +
            1)


class C:
    """Class docstring."""

    y = 1
'''


def test_count_skips_blanks_comments_and_docstrings():
    # import, def, s = (2 lines), return (2 lines), class, y = 1
    assert count_source(_FIXTURE) == 8


@pytest.mark.parametrize("arg", ["--help", "no/such/path.py"])
def test_missing_path_prints_usage_and_exits_2(arg, capsys):
    assert main([arg]) == 2
    out = capsys.readouterr()
    assert out.out == ""
    assert out.err.startswith("usage: python scripts/code_lines.py")
