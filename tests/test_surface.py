"""Surface guard: every public top-level name in ``graphgen_spark/`` is
reached from code that something runs.

The roots are the contract entry (``__spark_entry__.py``), ``bench.py``,
``bench_extra.py``, ``perfbench/`` and ``tools/``, plus the package's
own module-level code (``run.py``'s ``__main__`` block, for one).
Tests are not roots: a function that only a test calls is dead.

A definition is reached when a reached statement refers to its name as
a ``Name``, an ``Attribute``, an import alias or an identifier string
constant (perfbench wraps its layer functions by name).  Reach is taken
to a fixpoint, so dead code that calls dead code is reported too.
Names are matched as bare identifiers, not resolved to a module.
Pure ``ast``: it starts no Spark.
"""

from __future__ import annotations

import ast
import functools
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "graphgen_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
ROOT_DIRS = ("perfbench", "tools")

# Kept although nothing outside tests/ reaches them: name -> reason.
# An entry that the roots reach anyway fails
# test_allowlist_entries_are_needed, so the list cannot go stale.
ALLOWLIST = {
    "start_kg_ingest": "streaming.py: the continuous-crawl entry point "
    "of run_checkpointed (with its read_pages_stream); ROADMAP "
    "direction 2 measures it",
    "read_metrics": "operators/checkpointing.py: reads the _metrics/ "
    "format; ROADMAP direction 5 gives it a caller",
    "MockGleaningLLM": "extraction.py: the test fake of the gleaning "
    "LLM client",
    "truncate_tokens": "textkit.py: the Python reference of the "
    "summary gate that tests compare the SQL against",
    "with_extracted_text": "operators/text.py: the composed html -> "
    "text stage of the reference (conftest.composed_kg) that tests "
    "compare the fused hop against",
}


def _py_files(rel: str):
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, rel)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _refs(node: ast.AST) -> set:
    """Identifiers that ``node`` refers to."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)
    return out


def _defines(stmt: ast.stmt) -> set:
    """Names a top-level definition binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return {stmt.name}
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [
            stmt.target
        ]
        return {
            n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)
        }
    return set()


@functools.lru_cache(maxsize=None)
def _surface():
    """(definitions, root refs): each top-level package definition as
    (module, names it binds, refs), and the refs of every root
    statement."""
    defs = []
    roots = set()
    for path in _py_files(PACKAGE):
        mod = os.path.relpath(path, ROOT)
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a binding: the code that uses it refers to it
            names = _defines(stmt)
            if names:
                defs.append((mod, frozenset(names), frozenset(_refs(stmt))))
            else:
                roots |= _refs(stmt)
    paths = [os.path.join(ROOT, f) for f in ROOT_FILES]
    paths += [p for d in ROOT_DIRS for p in _py_files(d)]
    for path in paths:
        roots |= _refs(_parse(path))
    return tuple(defs), frozenset(roots)


def _unreached(keep) -> list:
    """Sorted ``module:name`` of every public definition that the roots
    and the names in ``keep`` do not reach."""
    defs, roots = _surface()
    live = set(roots) | set(keep)
    pending = list(defs)
    grew = True
    while grew:
        grew = False
        for d in list(pending):
            if d[1] & live:
                live |= d[2]
                pending.remove(d)
                grew = True
    return sorted(f"{mod}:{n}" for mod, names, _ in pending
                  for n in names if not n.startswith("_"))


def test_every_public_name_is_reached():
    dead = _unreached(ALLOWLIST)
    assert not dead, (
        "public names nothing outside tests/ reaches (delete them, or "
        "add them to ALLOWLIST with a reason):\n  " + "\n  ".join(dead)
    )


def test_allowlist_entries_are_needed():
    defined = set().union(*(names for _, names, _ in _surface()[0]))
    stale = [
        name for name in ALLOWLIST
        if name not in defined
        or not any(
            d.endswith(f":{name}")
            for d in _unreached(set(ALLOWLIST) - {name})
        )
    ]
    assert not stale, f"allowlist entries the roots reach anyway: {stale}"
