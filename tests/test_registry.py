"""Registry order and key sets.

The driver's correctness check runs the first 50 entries of
``registry.SPECS``; ``FOCUS`` decides which queries lead them. Retiring
the old driver-window rotation must not add or drop a query.
"""

from __future__ import annotations

import hashlib
import importlib

import __spark_entry__ as entry
from database_scan_spark import registry

# sha256 over the newline-joined sorted names of queries(), as registered
# before the rotation was retired. Every query has an oracle, so
# oracle_sql() has the same key set.
_NAMES_SHA256 = "a5c799d84a1c96c710e69adb45985b2c1f79d82daf0a0ed92fb62ce17b40f571"


def _sha(names) -> str:
    return hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()


def test_focus_names_are_registered():
    names = {s.name for s in registry.SPECS}
    assert len(set(registry.FOCUS)) == len(registry.FOCUS)
    assert [n for n in registry.FOCUS if n not in names] == []


def test_specs_are_focus_then_registration_order():
    registered = ["candidate_parts"]  # the flagship registers first
    for mod in registry._MODULES:  # noqa: SLF001
        pkg = importlib.import_module(f"database_scan_spark.{mod}")
        registered += [s.name for s in pkg.SPECS]
    want = list(registry.FOCUS) + [n for n in registered if n not in registry.FOCUS]
    assert [s.name for s in registry.SPECS] == want
    assert set(registry.FOCUS) <= {s.name for s in registry.SPECS[:50]}


def test_contract_key_sets_unchanged():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert len(qs) == 470
    assert set(osql) == set(qs)
    assert _sha(qs) == _NAMES_SHA256
