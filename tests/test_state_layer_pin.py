"""Structure pin: only streaming/state_log.py knows the on-disk shape of
a state root. Every other module under cqlcopy_spark/ reaches deltas,
compactions and snapshots through state_log's functions, so no string
constant or f-string outside a docstring may build a ``delta=``, ``v=``
or ``compact`` path segment there.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cqlcopy_spark"
LAYER = PKG / "streaming" / "state_log.py"
# a path segment that starts a delta or version dir, or names a
# compaction root ("compact", "/compact/", ".compact")
ROOT_SHAPE = re.compile(r"(^|[/.])(delta=|v=|compact($|/))")


def root_shape_literals(path: Path) -> list[tuple[int, int, str]]:
    """(line, col, text) of every non-docstring string constant in
    `path` that builds a state-root path segment (an f-string's literal
    parts are constants too)."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return sorted(
        (node.lineno, node.col_offset, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docs
        and ROOT_SHAPE.search(node.value)
    )


def test_only_state_log_builds_state_root_paths():
    hits = [
        f"{p.relative_to(PKG.parent)}:{line}: {text!r}"
        for p in sorted(PKG.rglob("*.py"))
        if p != LAYER
        for line, _, text in root_shape_literals(p)
    ]
    assert not hits, "state-root paths built outside state_log:\n" + "\n".join(hits)


def test_pin_flags_path_literals(tmp_path):
    """Liveness: the pin catches a plain constant and both f-string
    shapes, and ignores docstrings and names that merely contain the
    word."""
    f = tmp_path / "m.py"
    f.write_text(
        '"""Writes <state>/ths/delta=<b>/ and compact/v=<v>/."""\n'
        "import os\n"
        "def w(s, b, v):\n"
        '    """delta=<b> here is prose."""\n'
        '    os.path.join(s, "ths", f"delta={b}")\n'
        '    os.path.join(s, "compact", f"v={v}")\n'
        '    return s + ".compact", "layout_compact_plan"\n',
        encoding="utf-8",
    )
    assert [text for _, _, text in root_shape_literals(f)] == [
        "delta=",
        "compact",
        "v=",
        ".compact",
    ]
