"""Tool inventory: every script byte-compiles and every tool is documented.

No Spark session: this guards the scripts nothing imports, which would
otherwise rot unnoticed, and keeps README's ``tools/`` row the complete
list of measurement tools (one question each).
"""

import glob
import os
import py_compile
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
SCRIPTS = TOOLS + sorted(glob.glob(os.path.join(ROOT, "*.py")))


def _readme_tools_row() -> str:
    """The README layout's ``tools/`` line plus its indented continuation."""
    with open(os.path.join(ROOT, "README.md")) as f:
        lines = f.read().splitlines()
    start = next(i for i, line in enumerate(lines) if line.startswith("tools/"))
    row = [lines[start]]
    for line in lines[start + 1 :]:
        if not line.startswith(" "):
            break
        row.append(line)
    return "\n".join(row)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, ROOT))
def test_script_byte_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


def test_every_tool_named_in_readme():
    assert TOOLS
    named = set(re.findall(r"\b\w+\.py\b", _readme_tools_row()))
    missing = [os.path.basename(p) for p in TOOLS if os.path.basename(p) not in named]
    assert not missing, f"tools/ scripts missing from README's tools/ row: {missing}"
