"""QuerySpec — the unit of the engine's query surface.

Every operator from SURVEY.md §2 (and every north-star extension) is
registered as one named QuerySpec: a PySpark builder plus, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle twin that must
hash-match it (row count + schema + order-insensitive value hash).
This generalizes the reference's only self-check — the independent
re-derivation in ``/root/reference/chembl_to_smile.py:39-48`` — to
the whole operator inventory (SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One named query/operator.

    name:   the SURVEY §2 Op id (or extension id) — key in
            ``__spark_entry__.queries()``.
    fn:     (spark, sf_dir) -> DataFrame. Computed columns aliased to
            match the oracle exactly.
    oracle: equivalent DuckDB SQL over the pre-registered fixture
            views, or None for non-SQL-expressible ops (the driver
            then records a weaker rows-only check).

    A builder that caches an intermediate it reads more than once
    does so with ``session.persist``, which records the frame for
    release at the next ``__spark_entry__.queries()`` entry.
    """

    name: str
    fn: QueryFn
    oracle: str | None
