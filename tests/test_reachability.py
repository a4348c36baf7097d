"""Reachability guard: every top-level function and class of the
package must be reachable by name from a production root —
__spark_entry__.py, bench.py, perfbench/ or the package's own
module-level code — or be listed below with the reason it stays.
Code that only tests reach is dead weight: the DuckDB oracles already
pin semantics.  Module-level imports and ``__all__`` lists are not
roots: a re-export names a definition without using it."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "activity_classifier_spark_cassandra_spark"

# Kept although no production root reaches them.
_ALLOWED = {
    "read_samples_csv": "S2 reference source: headerless samples CSV",
    "write_features_parquet": "S4 reference sink: parquet feature table",
    "write_features_jdbc": "S4 reference sink: JDBC feature table",
    "cassandra_scan_config": "S1 reference source: connector reader spec",
    "read_cassandra": "S1 reference source: Cassandra scan (jar-gated)",
    "zorder_write": "documented in the README API",
    "codec_cache_stats": "codec memo hit rates, for the bench detail",
    "approx_sketch_raw": "test seam: unrounded q_approx_sketch estimates",
    "merge_day_states": "streaming daily-state view, crash-safety pending",
    "foreach_batch_state_updater": "streaming daily-state view sink",
    "stream_maintain_daily_state": "streaming daily-state view entry",
}


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` mentions, string literals included
    (``getattr(module, "name")`` references)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _reexport(node: ast.AST) -> bool:
    """An import statement or an ``__all__`` assignment."""
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return True
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def test_every_package_definition_is_reachable_from_a_production_root():
    defs: dict[str, list[ast.AST]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                for d in node.decorator_list:  # run at import
                    roots |= _names(d)
            elif not _reexport(node):
                roots |= _names(node)
    entry = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for path in entry + sorted((ROOT / "perfbench").glob("*.py")):
        roots |= _names(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = roots & defs.keys()
    while todo:
        name = todo.pop()
        reached.add(name)
        for node in defs[name]:
            todo |= (_names(node) & defs.keys()) - reached

    assert sorted(defs.keys() - reached - _ALLOWED.keys()) == []
    # a stale entry would hide the next unreachable definition
    assert _ALLOWED.keys() <= defs.keys() - reached
