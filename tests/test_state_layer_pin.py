"""Structure pins: only streaming/state_log.py knows the on-disk shape of
a state root, and only it touches one.

- Every other module under cqlcopy_spark/ reaches deltas, compactions
  and snapshots through state_log's functions, so no string constant or
  f-string outside a docstring may build a ``delta=``, ``v=`` or
  ``compact`` path segment there.
- The modules that drive state dirs make no filesystem effect of their
  own: every write, rename and removal goes through state_log's one
  effect function, which the crash enumeration (test_state_crash.py)
  faults.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cqlcopy_spark"
LAYER = PKG / "streaming" / "state_log.py"
# the modules that drive state dirs through state_log
STATE_DRIVERS = [
    PKG / "streaming" / "sinks.py",
    PKG / "operators" / "vector_index.py",
    PKG / "operators" / "text.py",
    PKG / "operators" / "dedup.py",
]
EFFECT_CALLS = {
    "os.replace",
    "os.rename",
    "os.remove",
    "os.unlink",
    "shutil.rmtree",
    "shutil.copyfile",
    "shutil.copytree",
    "shutil.move",
    "pq.write_table",
}
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


def _dotted(node: ast.AST) -> str:
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return node.id if isinstance(node, ast.Name) else ""


def effect_calls(path: Path) -> list[tuple[int, str]]:
    """(line, call) of every filesystem effect `path` makes itself: a
    call in EFFECT_CALLS, or an `open` whose mode writes, appends or
    creates."""
    hits = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if not isinstance(node, ast.Call):
            continue
        name = _dotted(node.func)
        if name == "open":
            mode = node.args[1] if len(node.args) > 1 else None
            mode = next((k.value for k in node.keywords if k.arg == "mode"), mode)
            if isinstance(mode, ast.Constant) and set(str(mode.value)) & set("wax"):
                hits.append((node.lineno, f"open(..., {mode.value!r})"))
        elif name in EFFECT_CALLS:
            hits.append((node.lineno, name))
    return hits


def test_state_drivers_make_no_filesystem_effect_of_their_own():
    hits = [
        f"{p.relative_to(PKG.parent)}:{line}: {call}"
        for p in STATE_DRIVERS
        for line, call in effect_calls(p)
    ]
    assert not hits, "filesystem effects outside state_log:\n" + "\n".join(hits)


def test_pin_flags_effect_calls(tmp_path):
    """Liveness: the pin catches each effect call and each writing open
    mode, and ignores reads and look-alike names."""
    f = tmp_path / "m.py"
    f.write_text(
        "import os, shutil\n"
        "import pyarrow.parquet as pq\n"
        "def w(p, t):\n"
        "    os.replace(p, p + '.x'); os.rename(p, p); os.remove(p)\n"
        "    os.unlink(p); shutil.rmtree(p); shutil.copyfile(p, p)\n"
        "    shutil.copytree(p, p); shutil.move(p, p); pq.write_table(t, p)\n"
        "    open(p, 'w'); open(p, mode='ab'); open(p, 'x')\n"
        "    open(p); open(p, 'rb'); open(p, encoding='utf-8')\n"
        "    os.path.exists(p); os.makedirs(p); pq.read_table(p)\n",
        encoding="utf-8",
    )
    assert [call for _, call in effect_calls(f)] == [
        "os.replace",
        "os.rename",
        "os.remove",
        "os.unlink",
        "shutil.rmtree",
        "shutil.copyfile",
        "shutil.copytree",
        "shutil.move",
        "pq.write_table",
        "open(..., 'w')",
        "open(..., 'ab')",
        "open(..., 'x')",
    ]
