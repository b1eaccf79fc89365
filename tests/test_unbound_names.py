"""Every global a module reads is bound: assigned, imported or a builtin.

A name that nothing binds raises NameError only when its line runs, which
for a script's last step is after every timed pass.  ``symtable`` finds it
without importing or running anything (no Spark).
"""

from __future__ import annotations

import builtins
import pathlib
import symtable

ROOT = pathlib.Path(__file__).resolve().parents[1]
FILES = sorted(
    [
        *(ROOT / "duckdb_cluster_hash_spark").rglob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
)


def unbound_globals(source: str, filename: str) -> list[tuple[str, str]]:
    """(scope, name) for each global read that no statement binds."""
    top = symtable.symtable(source, filename, "exec")
    tables, bound = [top], set(dir(builtins)) | {"__file__"}
    for table in tables:
        tables.extend(table.get_children())
        for sym in table.get_symbols():
            if table is top or sym.is_declared_global():
                if sym.is_assigned() or sym.is_imported():
                    bound.add(sym.get_name())
    return [
        (table.get_name(), sym.get_name())
        for table in tables
        for sym in table.get_symbols()
        if sym.is_referenced()
        and (table is top or sym.is_global())
        and sym.get_name() not in bound
    ]


def test_no_module_reads_an_unbound_global():
    unbound = {
        str(path.relative_to(ROOT)): names
        for path in FILES
        if (names := unbound_globals(path.read_text(), str(path)))
    }
    assert unbound == {}
