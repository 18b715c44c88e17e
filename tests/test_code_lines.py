"""The code-line count of ``scripts/code_lines.py``."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from code_lines import count_source  # noqa: E402

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
