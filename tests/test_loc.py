"""tools/loc.py counts code lines: no comments, docstrings or blanks."""

from __future__ import annotations

from tools.loc import code_lines, main

SOURCE = '''"""Module docstring."""

import os  # a trailing comment

# a whole-line comment
def f(x):
    """Function docstring
    over two lines."""
    s = """a string literal
    that is code"""
    return (x +
            1)


class C:
    "class docstring"
    y = 1
'''


def test_counts_code_lines_only():
    # import, def, the two-line literal, the two-line return, class, y
    assert code_lines(SOURCE) == 8
    assert code_lines("") == 0


def test_main_prints_each_file_and_the_total(tmp_path, capsys):
    (tmp_path / "a.py").write_text(SOURCE)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.py").write_text("x = 1\n\n# note\n")
    (tmp_path / "notes.txt").write_text("not python\n")
    main([str(tmp_path)])
    rows = [line.split() for line in capsys.readouterr().out.splitlines()]
    assert rows == [
        ["8", str(tmp_path / "a.py")],
        ["1", str(tmp_path / "sub" / "b.py")],
        ["9", "total"],
    ]
