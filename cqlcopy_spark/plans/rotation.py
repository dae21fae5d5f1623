"""Rotation ledger: content-hash record of what the driver last verified.

The driver correctness-checks only the first 50 ``queries()`` entries per
round, so ``__spark_entry__.py`` rotates the registry — failed first,
unchecked next, then greens whose implementing module CHANGED after their
last driver check, then greens oldest-check-first.  Round 7's audit showed
the "changed after check" signal must not come from filesystem mtimes
(checkouts, driver copies, and artifact rewrites all touch mtimes without
touching content — the r07 fronting rule demonstrably misfired on exactly
this): it has to be a CONTENT hash, recorded at the moment the verdict was
observed — of the implementing module AND every cqlcopy_spark module it
imports, transitively, since most ops keep their logic in shared helpers.

Contract:

- ``rotation_ledger.json`` (repo root, committed) maps
  ``query_name -> {"round": N, "module_sha": sha256-of-module-closure}``.
- ``python -m cqlcopy_spark.plans.rotation`` refreshes the ledger from the
  NEWEST ``CORRECTNESS_r*.json``.  Run it at ROUND START, before editing any
  operator module: the tree at round start is byte-identical to the tree the
  driver just verified (the driver checks the committed round-final tree),
  so hashing the modules then records exactly the code each verdict covers.
- ``__spark_entry__.py`` fronts a green query when the CURRENT closure sha
  differs from its ledger sha.  A green query with no ledger row (verdicts
  predating the ledger) is treated as unchanged and left to the
  oldest-check-first sweep — mtime heuristics are gone entirely.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
import re
import sys
from pathlib import Path

LEDGER_NAME = "rotation_ledger.json"


#: imported by every operator module, but its own imports are the
#: registration loader (every operator), not a dependency of any query —
#: hashed as a leaf, or every closure would be the whole package
_LEAF_MODULES = ("cqlcopy_spark.plans.registry",)


def _module_file(name: str, root: Path) -> Path | None:
    p = root.joinpath(*name.split("."))
    for f in (p.with_suffix(".py"), p / "__init__.py"):
        if f.is_file():
            return f
    return None


@functools.lru_cache(maxsize=128)
def _import_names(src: bytes) -> tuple[str, ...]:
    """Every module name a source imports — module-level AND function-
    level (ast.walk reads both); `from pkg import name` yields pkg.name
    too, since name may be a module. Cached on the source bytes: one
    queries() call resolves ~20 closures over the same files."""
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out += [node.module] + [f"{node.module}.{a.name}" for a in node.names]
    return tuple(out)


def _imported(f: Path, root: Path) -> dict[str, Path]:
    """{module name: source file} of the cqlcopy_spark modules a source
    file imports."""
    found = {
        n: _module_file(n, root)
        for n in _import_names(f.read_bytes())
        if n.split(".")[0] == "cqlcopy_spark"
    }
    return {n: p for n, p in found.items() if p}


def module_closure(fn) -> dict[str, Path]:
    """{module name: source file} for the module defining a registered
    query fn plus every cqlcopy_spark module it imports, transitively."""
    root = Path(__file__).resolve().parents[2]
    seen: dict[str, Path] = {}
    todo = [(fn.__module__, Path(sys.modules[fn.__module__].__file__))]
    while todo:
        mod, f = todo.pop()
        if mod in seen:
            continue
        seen[mod] = f
        if mod not in _LEAF_MODULES:
            todo.extend(_imported(f, root).items())
    return seen


def module_sha(fn) -> str:
    """sha256 hex over the dependency closure of a registered query fn
    (module_closure: each module's name and source digest), so a rewrite
    of a helper module fronts every query built on it ('' if the module
    can't be resolved — never raises)."""
    try:
        h = hashlib.sha256()
        for mod, f in sorted(module_closure(fn).items()):
            h.update(mod.encode() + b"\0" + hashlib.sha256(f.read_bytes()).digest())
        return h.hexdigest()
    except Exception:
        return ""


#: reserved ledger key holding bookkeeping (not a query row)
META_KEY = "_meta"


def load_ledger(repo: str | Path) -> dict[str, dict]:
    p = Path(repo) / LEDGER_NAME
    try:
        data = json.loads(p.read_text())
        return data if isinstance(data, dict) else {}
    except Exception:
        return {}


def _round_no(p: Path) -> int:
    m = re.search(r"r(\d+)", p.stem)
    return int(m.group(1)) if m else -1


def is_green(row: dict) -> bool:
    """Driver verdict row -> green (rows-only 'no_oracle' counts)."""
    return bool(
        row.get("err") == "no_oracle"
        or (
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        )
    )


def update_ledger(repo: str | Path) -> dict[str, dict]:
    """Merge unprocessed CORRECTNESS_r*.json round files into
    rotation_ledger.json.

    IDEMPOTENT AND MISTIMING-SAFE: the ledger records the last round it
    processed (_meta.last_round); rounds at or below it are skipped, so
    a second invocation in the same round is a no-op — a mid-round
    re-run after editing modules can no longer overwrite a verdict's
    sha with post-edit content (which would silently suppress the
    changed-since-check fronting for a stale green).

    For the NEWEST unprocessed round, greens record the CURRENT module
    sha — correct only when invoked at round start (see module doc).
    For any SKIPPED intermediate rounds (ritual missed a round): their
    module states are gone, so greens with an existing row keep
    whatever sha the ledger already holds (at worst an unnecessary
    re-front), greens with NO row record the round with an EMPTY sha —
    an empty sha means "verdict exists but its baseline content is
    unknown", which __spark_entry__.py treats as front-on-next-window
    (without the row, a later rewrite of that module would never
    trigger content fronting and would fall silently to the slow
    oldest-first sweep). Failed verdicts still remove rows, which is
    round-independent and must not be lost.

    An UNDECODABLE round file (truncated mid-write — the case
    _checked_status degrades on) stops processing at that file WITHOUT
    advancing _meta.last_round past it: advancing would mark the round
    processed forever, silently losing its verdicts once the file heals
    (greens would keep stale shas → spurious fronting; failures would
    never pop their rows). Later files wait for the next invocation so
    rounds always apply in order. A file that DECODES but isn't a dict
    ('[]', 'null' — complete, just wrong) will never heal: it carries
    no verdicts, so it is skipped and advanced past rather than
    stalling every later round forever behind it.
    """
    from cqlcopy_spark.plans.registry import all_queries

    repo = Path(repo)
    ledger = load_ledger(repo)
    meta = ledger.get(META_KEY)
    try:
        done = int(meta.get("last_round", -1)) if isinstance(meta, dict) else -1
    except (TypeError, ValueError):
        done = -1
    rounds = [
        p
        for p in sorted(repo.glob("CORRECTNESS_r*.json"), key=_round_no)
        if _round_no(p) > done
    ]
    if not rounds:
        return ledger

    qs = all_queries()
    processed_through = done
    for p in rounds:
        try:
            data = json.loads(p.read_text())
        except Exception:
            break  # mid-write/undecodable: retry from this round next time
        if not isinstance(data, dict):
            processed_through = _round_no(p)  # complete but verdict-free
            continue
        rnd = _round_no(p)
        newest = p is rounds[-1]
        for name, row in data.items():
            if not isinstance(row, dict) or name not in qs:
                continue
            if not is_green(row):
                ledger.pop(name, None)
            elif newest:
                sha = module_sha(qs[name])
                if sha:
                    ledger[name] = {"round": rnd, "module_sha": sha}
            elif name not in ledger:
                # skipped round, no baseline: empty sha = front next window
                ledger[name] = {"round": rnd, "module_sha": ""}
        processed_through = rnd
    if processed_through == done:
        return ledger  # nothing parsed — leave the ledger file untouched
    ledger[META_KEY] = {"last_round": processed_through}
    (repo / LEDGER_NAME).write_text(
        json.dumps(ledger, indent=0, sort_keys=True) + "\n"
    )
    return ledger


if __name__ == "__main__":
    repo = sys.argv[1] if len(sys.argv) > 1 else str(Path(__file__).resolve().parents[2])
    led = update_ledger(repo)
    print(f"rotation_ledger.json: {len(led)} entries")
