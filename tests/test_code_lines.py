"""scripts/code_lines.py counts the lines that hold code: blank lines,
comment-only lines and docstrings do not count."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from code_lines import code_lines  # noqa: E402

_SRC = '''"""Module docstring."""

# a comment
x = 1  # trailing comment counts as code


class C:
    """Class
    docstring."""

    def f(self):
        """Function docstring."""
        s = """a string literal
        that is not a docstring"""
        return (s,
                x)
'''


def test_counts_code_lines_without_blanks_comments_or_docstrings():
    # x = 1; class C; def f; the two-line literal; the two-line return
    assert code_lines(_SRC) == 7
