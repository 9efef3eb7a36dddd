"""Edge cases of q21's order-grain aggregate.

``tpch_q21_sole_blame_supplier`` answers both of its correlations with
one min/max aggregate per order. The driver fixtures carry no NULL
supplier or return flag, so this pins the rewrite on a hand-built
fixture against DuckDB running the registered oracle: a NULL
``l_suppkey``, a NULL ``l_returnflag``, a returning single-supplier
order, an order with two returning suppliers, duplicate (order,
supplier) lines, orders whose status is not F, a line with no order
and a NULL ``l_orderkey``.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from conftest import SF_SMOKE

# (l_orderkey, l_suppkey, l_returnflag)
_LINES = [
    (1, 10, "R"), (1, 10, "N"),                  # one supplier only
    (2, 10, "R"), (2, 11, "R"),                  # two returning suppliers
    (3, 10, "R"), (3, 10, "R"), (3, 11, "N"),    # blame 10, duplicate pair
    (3, 11, "A"),
    (4, None, "R"), (4, 12, "N"), (4, 13, "R"),  # NULL returner: blame 13
    (5, 14, "R"), (5, None, "N"),                # NULL is no other supplier
    (6, 15, None), (6, 16, "R"),                 # NULL flag: blame 16
    (7, 10, "R"), (7, 11, "N"),                  # status O
    (8, 10, "R"), (8, 11, "N"),                  # status P
    (9, 10, "N"), (9, 11, "A"),                  # nobody returned
    (11, 10, "R"), (11, 12, "N"),                # no order row
    (None, 10, "R"), (None, 11, "N"),            # NULL order key
    (12, 10, "R"), (12, 13, "N"),                # blame 10 again
    (13, 99, "R"), (13, 10, "N"),                # blamed supplier unknown
    (14, None, "R"), (14, None, "N"),            # only NULL suppliers
]
_ORDERS = [(k, "F") for k in (1, 2, 3, 4, 5, 6, 9, 12, 13, 14)] + [(7, "O"), (8, "P")]
_SUPPLIERS = list(range(10, 18))


def _fixture(d: str) -> None:
    pq.write_table(pa.table({
        "l_orderkey": pa.array([r[0] for r in _LINES], pa.int64()),
        "l_suppkey": pa.array([r[1] for r in _LINES], pa.int64()),
        "l_returnflag": pa.array([r[2] for r in _LINES], pa.string()),
    }), os.path.join(d, "lineitem.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array([r[0] for r in _ORDERS], pa.int64()),
        "o_orderstatus": pa.array([r[1] for r in _ORDERS], pa.string()),
    }), os.path.join(d, "orders.parquet"))
    pq.write_table(pa.table({
        "s_suppkey": pa.array(_SUPPLIERS, pa.int64()),
        "s_name": pa.array([f"Supplier#{k:03d}" for k in _SUPPLIERS], pa.string()),
    }), os.path.join(d, "supplier.parquet"))
    # the oracle harness registers every table; q21 reads only the three above
    for name in os.listdir(SF_SMOKE):
        if not os.path.exists(os.path.join(d, name)):
            os.symlink(os.path.join(SF_SMOKE, name), os.path.join(d, name))


def test_q21_order_grain_matches_oracle_on_edge_cases(spark, tmp_path):
    from database_scan_spark.operators.tpch_extra import (
        TPCH_Q21_ORACLE,
        tpch_q21_sole_blame_supplier,
    )
    from database_scan_spark.testing import assert_match, run_oracle

    d = str(tmp_path)
    _fixture(d)
    got = tpch_q21_sole_blame_supplier(spark, d).toPandas()
    assert_match(got, run_oracle(TPCH_Q21_ORACLE, d), "tpch_q21_sole_blame_supplier[edge]")
    # orders 3 and 12 blame supplier 10, order 4 blames 13, order 6 blames 16
    assert dict(zip(got.s_name, got.numwait)) == {
        "Supplier#010": 2, "Supplier#013": 1, "Supplier#016": 1,
    }
