"""tools/code_lines.py: the code-line rule the size figures in
CHANGES.md and ROADMAP.md are counted with."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
from code_lines import count_code_lines  # noqa: E402

sys.path.pop(0)

FIXTURE = '''"""Module docstring,
two lines."""

# a comment line


def f(a,
      b):
    """Function docstring."""
    x = (a +  # trailing comment
         b)
    "a bare string statement"
    return f"""{x}
multi-line value"""
'''


def test_count_code_lines_rule():
    # counted: "def f(a," / "b):" / "x = (a +" / "b)" / "return ..." and
    # the string's second line; not counted: both docstrings, the bare
    # string statement, the comment and the blank lines
    assert count_code_lines(FIXTURE) == 6


def test_count_code_lines_empty_and_docstring_only():
    assert count_code_lines("") == 0
    assert count_code_lines('"""only a docstring"""\n') == 0
    assert count_code_lines("x = 1\n\n\n# end\n") == 1
