"""Order-insensitive result digests for the output check.

Both sides go through ``database_scan_spark.testing.canonicalize`` —
the canonical form ``assert_match`` compares — and are reduced to
(columns, row count, sha256 of the sorted canonical rows), so the
benchmark set-up can compute the DuckDB side once per fixture and the
Spark side can be checked without shipping result rows around.
"""

from __future__ import annotations

import hashlib
import json


def digest(pdf) -> dict:
    from database_scan_spark.testing import canonicalize  # noqa: PLC0415

    cols, rows = canonicalize(pdf)
    sha = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    return {"cols": cols, "rows": len(rows), "sha256": sha}


def mismatch(name: str, got: dict, want: dict) -> str | None:
    """``assert_match``'s checks, in its order; None when they agree."""
    if got["cols"] != want["cols"]:
        return f"{name}: column mismatch spark={got['cols']} oracle={want['cols']}"
    if got["rows"] != want["rows"]:
        return f"{name}: row count spark={got['rows']} oracle={want['rows']}"
    if got["sha256"] != want["sha256"]:
        return f"{name}: canonical rows differ from the oracle's"
    return None
